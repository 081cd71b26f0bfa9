"""Vector/embedding operators beyond the ANN family (l3/l11/l12/l17):
grid-partitioned spatial ε-join (c24), int8 quantization (l54),
product-quantization ANN (l55), and linear projection / ``DataFrame.dot``
(l57).

Published grounding: grid-file spatial partitioning — Nievergelt et al. 1984
(the grid file); the ε-join-by-cell-neighborhood pattern is the standard
distributed spatial join (e.g. SpatialSpark / Sedona's partitioned joins).
Symmetric linear int8 quantization is the scheme used by FAISS'
``ScalarQuantizer`` (QT_8bit_direct-style) and by inference runtimes.

Scale notes (100 TB):
- c24: each point lands in ONE home cell; only the left side fans out to
  its 3×3 neighborhood, so the join is a plain equi-shuffle on cell id with
  ~9× fan-out on one side — never an all-pairs product. Cell width = ε makes
  the neighborhood sufficient in exact arithmetic (|Δcoord| ≤ ε ⇒ cell
  delta ≤ 1), but the fp predicate d² ≤ ε² can pass while fp cell ids sit
  2 apart when BOTH coordinates lie within a few ULPs of a cell boundary
  (round-2 verdict finding). The fix is a GUARDED fan-out: an axis widens
  to offset ±2 only when its x/ε fraction falls inside a magnitude-aware
  guard band (1e-8·max(1,|x/ε|)) of a boundary, so the expected fan-out
  stays ~9× (the band triggers with probability ~2e-8 per axis on real
  data) while boundary straddlers are still caught. Each qualifying pair
  still matches on exactly one (neighbor-offset, home) combination — the
  offset equals the unique cell delta — so no post-join dedup is needed.
  Skewed cells (dense regions) are ordinary join skew — AQE skew-join or
  salting applies.
- l54: pure per-row array HOFs — zero shuffle until the final per-label
  rollup (10 groups). The quantized codes are what a vector store would
  persist: 4× smaller than float32, which is the lever that makes the
  l12/l17 ANN paths RAM-resident at 100 TB.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_pipes_spark.operators.ann_lifecycle import (
    _CENT_SCHEMA,
    _CK_CENTS_SCHEMA,
    _EMBED_SCHEMA,
    _FINAL_SQL,
    _IVF_ASSIGN_SCHEMA,
    _OLD_SQL,
    _PQ_CENTS_SCHEMA,
    _PQ_CODES_SCHEMA,
    _SLIM_ASSIGN_SCHEMA,
    _SUB_SCHEMA,
    _VEC_SCHEMA,
    IndexFamily,
    _build_index,
    _checkpoint_feeds,
    _final_slice,
    _ins_slice,
    _merged_feeds,
    _old_slice,
    _read_heads,
    _read_state,
    _stage_index,
)
from dask_pipes_spark.operators.llm_ext import (
    _ivf_assigner,
    _ivf_build,
    _ivf_corpus_and_centroids,
    ivf_assign,
)
from dask_pipes_spark.registry import query
from dask_pipes_spark.session import (
    _link_bys,
    _load_manifest,
    checkpoint_index_generations,
    collect_local,
    ensure_index,
    fanout,
    load,
    scratch_path,
)

_EPS = 0.1  # ε for the spatial join, in coordinate units


def _axis_offsets(q):
    """Neighbor-cell offsets for one axis given the pre-floor ratio
    ``q = coord/eps``: the base {-1,0,1}, widened to ±2 ONLY when the
    fractional part of q sits inside a magnitude-aware guard band of a
    cell boundary.  In exact arithmetic |Δcoord| ≤ eps bounds the cell
    delta by 1, but fp division can make two predicate-passing points
    land 2 cells apart — and that requires BOTH fracs within a few ULPs
    of a boundary (one near 0, the other near 1), so a band of
    1e-8·max(1,|q|) (≥ 7 orders above the 2⁻⁵²·|q| ULP slack) is both
    sufficient and almost never triggered."""
    frac = q - F.floor(q)
    band = F.lit(1e-8) * F.greatest(F.lit(1.0), F.abs(q))
    return F.filter(
        F.array(*[F.lit(i) for i in (-2, -1, 0, 1, 2)]),
        lambda o: (F.abs(o) <= F.lit(1))
        | ((o == F.lit(-2)) & (frac < band))
        | ((o == F.lit(2)) & (frac > F.lit(1.0) - band)),
    )


def grid_epsilon_pairs(pts, eps):
    """Grid-cell ε-join core: all pairs of ``pts`` (vec_id, label, x, y)
    with (fp-computed) Euclidean distance ≤ eps, each pair exactly once
    (l_id < r_id).

    Home cell = (⌊x/eps⌋, ⌊y/eps⌋); the left side fans out to its 3×3 cell
    neighborhood — guarded-widened to ±2 on an axis only for within-band
    boundary sitters (see ``_axis_offsets``) — the right side stays on its
    home cell, so a qualifying pair meets on exactly one (offset, home)
    combination (the offset is the unique cell delta) — no post-join
    dedup. Property-tested vs the O(N²) reference on hypothesis-generated
    points (negative coords, exact cell-boundary sitters, denormal
    straddlers) in tests/test_vectors.py."""
    cell = lambda c: F.floor(c / eps).cast("long")  # noqa: E731
    right = pts.select(
        F.col("vec_id").alias("r_id"),
        F.col("label").alias("r_label"),
        F.col("x").alias("rx"),
        F.col("y").alias("ry"),
        cell(F.col("x")).alias("cx"),
        cell(F.col("y")).alias("cy"),
    )
    left = (
        pts.select(
            F.col("vec_id").alias("l_id"),
            F.col("label").alias("l_label"),
            F.col("x").alias("lx"),
            F.col("y").alias("ly"),
            cell(F.col("x")).alias("hx"),
            cell(F.col("y")).alias("hy"),
        )
        .withColumn("dx", F.explode(_axis_offsets(F.col("lx") / eps)))
        .withColumn("dy", F.explode(_axis_offsets(F.col("ly") / eps)))
        .select(
            "l_id", "l_label", "lx", "ly",
            (F.col("hx") + F.col("dx")).alias("cx"),
            (F.col("hy") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("lx") - F.col("rx")) * (F.col("lx") - F.col("rx")) + (
        F.col("ly") - F.col("ry")
    ) * (F.col("ly") - F.col("ry"))
    return (
        left.join(right, ["cx", "cy"])
        .filter(F.col("l_id") < F.col("r_id"))
        .filter(d2 <= F.lit(eps) * F.lit(eps))
        .select(
            "l_id", "r_id", "l_label", "r_label", F.sqrt(d2).alias("dist")
        )
    )


@query(
    "c24_grid_spatial_join",
    oracle="""
    WITH p AS (
      SELECT vec_id, label,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    )
    SELECT LEAST(a.label, b.label) AS lab_lo,
           GREATEST(a.label, b.label) AS lab_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(CAST(SUM(CAST(SQRT((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y))
                          AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                 * 1000000 + 0.5) / 1000000 AS avg_dist
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.1 * 0.1
    GROUP BY 1, 2
    """,
)
def c24_grid_spatial_join(spark, sf_dir):
    """All point pairs within ε (Euclidean, ε=0.1) over the first two
    embedding dimensions, rolled up per label pair — via GRID-CELL
    partitioning: home cell = (⌊x/ε⌋, ⌊y/ε⌋), the left side explodes to its
    3×3 cell neighborhood, pairs meet on an equi-join of cell ids, and the
    exact distance predicate filters within the bucket. The DuckDB oracle is
    the brute-force quadratic join — same pairs, same distances — proving
    the grid decomposition loses nothing.

    100 TB: the brute-force form is O(N²) and dies; the grid form shuffles
    each point once (9× fan-out on one side only), pairs points only within
    adjacent cells, and is the standard distributed spatial-join shape
    (Sedona-style). Dense-cell skew is ordinary join skew — AQE/salting
    applies. Distance math stays in codegen; sums ride the decimal-sum
    discipline."""
    e = fanout(load(spark, sf_dir, "embeddings"))
    pts = e.select(
        "vec_id",
        "label",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    pairs = grid_epsilon_pairs(pts, _EPS).select(
        F.least("l_label", "r_label").alias("lab_lo"),
        F.greatest("l_label", "r_label").alias("lab_hi"),
        "dist",
    )
    return pairs.groupBy("lab_lo", "lab_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.floor(
            F.sum(F.col("dist").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
            * 1000000
            + 0.5
        ).cast("double").alias("avg_dist_raw"),
    ).select(
        "lab_lo",
        "lab_hi",
        "n_pairs",
        (F.col("avg_dist_raw") / 1000000).alias("avg_dist"),
    )


# reconstruction of element x after symmetric int8 round-trip, shared by the
# mse and max-err expressions (the SQL twin spells the identical arithmetic)
def _recon(x, scale):
    return F.floor(x * 127 / scale + F.lit(0.5)) * scale / 127


@query(
    "l54_int8_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, label, e,
             LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))) AS scale
      FROM v
    ),
    r AS (
      SELECT vec_id, label, scale,
        LIST_SUM(LIST_TRANSFORM(e, x ->
          (x - FLOOR(x * 127 / scale + 0.5) * scale / 127)
          * (x - FLOOR(x * 127 / scale + 0.5) * scale / 127))) / 64 AS mse,
        LIST_MAX(LIST_TRANSFORM(e, x ->
          ABS(x - FLOOR(x * 127 / scale + 0.5) * scale / 127))) AS maxerr
      FROM s
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           FLOOR(CAST(SUM(CAST(mse AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*)
                 * 1e10 + 0.5) / 1e10 AS avg_mse,
           FLOOR(CAST(SUM(CAST(scale AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                 * 1e6 + 0.5) / 1e6 AS avg_scale,
           FLOOR(MAX(maxerr) * 1e8 + 0.5) / 1e8 AS max_abs_err
    FROM r GROUP BY label
    """,
)
def l54_int8_quantize(spark, sf_dir):
    """Symmetric linear int8 quantization of every embedding (FAISS
    ScalarQuantizer scheme): per-vector scale = max|x|, code_i =
    ⌊x_i·127/scale + 0.5⌋ ∈ [-127,127], reconstruction = code·scale/127 —
    reported as a per-label error profile (mean squared error, worst
    absolute error, mean scale). The quantize-reconstruct arithmetic is
    spelled identically in the DuckDB oracle (same ⌊·+0.5⌋ rounding, same
    element order in the list sums), so every error number is an exact
    cross-engine match.

    100 TB: quantization is a per-row array HOF — zero shuffle, stays in
    codegen; the only exchange is the 10-group label rollup. int8 codes cut
    vector storage 4× vs float32, which is what keeps the ANN bucket scans
    (l12 IVF / l17 LSH) memory-resident at corpus scale; the error profile
    here is the acceptance gate for that compression."""
    e = fanout(load(spark, sf_dir, "embeddings"))
    v = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    s = v.withColumn(
        "scale",
        F.array_max(F.transform("e", lambda x: F.abs(x))),
    )
    sc = F.col("scale")
    r = s.select(
        "label",
        "scale",
        (
            F.aggregate(
                F.transform(
                    "e",
                    lambda x: (x - _recon(x, sc)) * (x - _recon(x, sc)),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            / 64
        ).alias("mse"),
        F.array_max(
            F.transform("e", lambda x: F.abs(x - _recon(x, sc)))
        ).alias("maxerr"),
    )
    return r.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (
            F.floor(
                F.sum(F.col("mse").cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1))
                * F.lit(1e10)
                + 0.5
            )
            / F.lit(1e10)
        ).alias("avg_mse"),
        (
            F.floor(
                F.sum(F.col("scale").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
                * F.lit(1e6)
                + 0.5
            )
            / F.lit(1e6)
        ).alias("avg_scale"),
        (F.floor(F.max("maxerr") * F.lit(1e8) + 0.5) / F.lit(1e8)).alias(
            "max_abs_err"
        ),
    )


# --- Product quantization (Jégou, Douze, Schmid 2011) ------------------------

_PQ_M = 8  # subspaces
_PQ_DIM = 8  # dims per subspace (64 total)
_PQ_K = 16  # centroids per subspace


@lru_cache(maxsize=8)
def _pq_sub_expr(vec_col: str):
    """The 8-way subspace fan-out expression, memoized per source column
    (round 13): building the 8 struct/slice nodes costs ~70 ms of
    driver-side py4j work per call, re-paid in every Lloyd round,
    streaming micro-batch and probe. Columns are immutable trees over a
    by-name reference, so one tree serves every plan (expression cache
    only — never data)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice(vec_col, s * _PQ_DIM + 1, _PQ_DIM).alias("sv"),
                )
                for s in range(_PQ_M)
            ]
        )
    )


def _pq_subspaces(df, vec_col="e"):
    """Explode a 64-d vector row into (s, sv) subvector rows, s ∈ [0, 8)."""
    return df.withColumn("sub", _pq_sub_expr(vec_col)).select(
        "*", "sub.s", "sub.sv"
    ).drop("sub")


def _subvectors(df):
    """(vec_id, s, sv): the subvector rows PQ encodes."""
    return _pq_subspaces(df).select("vec_id", "s", "sv")


@lru_cache(maxsize=32)
def _l2sq(a: str, b: str):
    """Squared L2 between two equal-length array columns (codegen HOFs).
    Memoized per column-name pair (round 13) — the HOF lambda tree costs
    tens of ms of py4j/driver work per build and every call site passes
    plain column names."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _l55_oracle(train_pred: str | None = None, corpus_pred: str | None = None) -> str:
    """DuckDB twin of l55 — the ENTIRE IVFADC-style pipeline re-derived in
    SQL: digest-seeded codebook init, two CTE-unrolled Lloyd rounds with
    decimal-exact centroid means, struct-min code assignment (ROW_NUMBER
    over (d2, cid)), per-query ADC tables, and the decimal-summed 8-lookup
    distance estimate. Every float op is either a deterministic left fold
    (LIST_SUM == F.aggregate) or decimal-exact, so the twin must agree
    pair-for-pair with the Spark plan.

    ``train_pred``/``corpus_pred`` (l67): SQL predicates on vec_id
    restricting the TRAINING slice (seeds + Lloyd membership + the
    persisted code set) and the FINAL corpus (codes + queries) — the
    codebook-trained-on-yesterday / codes-track-today split the delta key
    maintains. With both None the generated SQL is byte-identical to
    l55's original oracle."""
    d2 = (
        "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sb.sv, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    mean_list = ", ".join(
        f"CAST(SUM(CAST(sb.sv[{i}] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)"
        for i in range(1, 9)
    )

    sub_t = "sub_train" if train_pred else "sub"
    sub_f = "sub_final" if corpus_pred else "sub"

    def assign(cents: str, name: str, sub_tbl: str = "sub") -> str:
        return f"""{name} AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM {sub_tbl} sb JOIN {cents} c USING (s)
      ) WHERE rn = 1
    )"""

    def lloyd(a: str, prev: str, nxt: str, m: str) -> str:
        return f"""{m} AS (
      SELECT {a}.s, {a}.code AS cid, [{mean_list}] AS mv
      FROM {a} JOIN sub sb USING (vec_id, s)
      GROUP BY {a}.s, {a}.code
    ),
    {nxt} AS (
      SELECT c.s, c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM {prev} c LEFT JOIN {m} m ON m.s = c.s AND m.cid = c.cid
    )"""

    seed_where = f" WHERE {train_pred}" if train_pred else ""
    slice_ctes = ""
    if train_pred:
        slice_ctes += (
            f"\n    sub_train AS (SELECT * FROM sub WHERE {train_pred}),"
        )
    if corpus_pred:
        slice_ctes += (
            f"\n    sub_final AS (SELECT * FROM sub WHERE {corpus_pred}),"
        )
    return f"""
    WITH v AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid
      FROM (SELECT vec_id, e,
              ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))
                ::BIGINT AS h
            FROM v{seed_where})
      QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16
    ),
    sub AS (
      SELECT vec_id, s, e[s * 8 + 1 : s * 8 + 8] AS sv
      FROM v, LATERAL (SELECT UNNEST(range(8)) AS s) t
    ),{slice_ctes}
    cents0 AS (
      SELECT sb.s, sd.cid, sb.sv AS cv
      FROM seeds sd JOIN sub sb ON sb.vec_id = sd.vec_id
    ),
    {assign('cents0', 'a0', sub_t)},
    {lloyd('a0', 'cents0', 'cents1', 'm0')},
    {assign('cents1', 'a1', sub_t)},
    {lloyd('a1', 'cents1', 'cents2', 'm1')},
    {assign('cents2', 'codes', sub_f)},
    qd AS (
      SELECT sb.vec_id AS query_id, sb.s AS qs, c.cid AS qcid, {d2} AS qd2
      FROM {sub_f} sb JOIN cents2 c USING (s)
      WHERE sb.vec_id % 100 = 0
    ),
    est AS (
      SELECT q.query_id, codes.vec_id,
             ROUND(CAST(SUM(CAST(q.qd2 AS DECIMAL(28,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM codes JOIN qd q ON q.qs = codes.s AND q.qcid = codes.code
      WHERE codes.vec_id <> q.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id AS neighbor_id, adc_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, vec_id) AS rn
      FROM est) WHERE rn <= 5
    """


@query("l55_pq_topk", oracle=_l55_oracle())
def l55_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou/Douze/Schmid 2011, "Product
    quantization for nearest neighbor search"): split each 64-d embedding
    into 8×8-d subvectors, quantize each against a 16-centroid per-subspace
    codebook (codes: 8 × 4 bits = 4 bytes/vector vs 256 bytes float32), and
    answer top-5 queries with Asymmetric Distance Computation — the query
    precomputes its 8×16 distance table, and every database vector is
    scored by 8 table lookups summed, never touching the original floats.
    Codebooks are deterministic k-means: init = the 16 seed vectors with
    the smallest portable md5-60bit digest of ``'pq:'||vec_id``, then two
    Lloyd rounds whose centroid means use exact decimal sums (order-
    insensitive → bit-reproducible across partitionings; empty clusters
    keep their previous centroid). Queries are every 100th vector;
    self-matches excluded; ties broken by neighbor id.

    100 TB: the codebook is 128 tiny rows (broadcast); code assignment is
    one broadcast-join + per-(vector,subspace) argmin — linear, no shuffle
    of the fact side beyond the 8× subspace fan-out; the scored-candidate
    join keys on (s, code) against the 128-row ADC table — broadcast again.
    The 64× memory cut (4 B vs 256 B) is what lets a 100 TB vector corpus
    sit in cluster RAM; IVF coarse partitioning (l12) composes in front to
    prune candidates, exactly the IVFADC system of the paper."""
    v, sub = _pq_corpus(spark, sf_dir)
    cents = _pq_train(v, sub)
    codes = _pq_assign(sub, cents)
    return _pq_probe_topk(
        sub.filter(F.col("vec_id") % 100 == 0), cents, codes
    )


def _pq_corpus(spark, sf_dir, pred=None):
    """Shared PQ corpus prep (l55 rebuild == l63 persist): (v, sub) where
    ``sub`` is the 8× subspace fan-out of every corpus vector. ``pred``
    restricts the corpus slice."""
    e = fanout(load(spark, sf_dir, "embeddings"))
    if pred is not None:
        e = e.filter(pred)
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    return v, _subvectors(v)


def _pq_assign(sub, cents):
    """Nearest centroid per (vector, subspace); struct-min gives a
    deterministic argmin (distance, then centroid id)."""
    return (
        sub.join(F.broadcast(cents), "s")
        .groupBy("vec_id", "s")
        .agg(
            F.min(
                F.struct(_l2sq("sv", "cv").alias("d2"), "cid")
            ).alias("best")
        )
        .select("vec_id", "s", F.col("best.cid").alias("code"))
    )


def _pq_train(v, sub):
    """Digest-seeded init + two decimal-exact Lloyd rounds (bit-
    deterministic across partitionings); returns the codebook
    (s, cid, cv)."""
    digest = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    seeds = (
        v.withColumn("h", digest)
        .orderBy("h", "vec_id")
        .limit(_PQ_K)
        .withColumn(
            "cid",
            F.row_number().over(Window.orderBy("h", "vec_id")) - 1,
        )
    )
    cents = _pq_subspaces(seeds.select("cid", "e")).select(
        "s", "cid", F.col("sv").alias("cv")
    )
    # Lloyd refinement (2 rounds): recompute each centroid as the exact
    # element-wise mean of its members — decimal sums keep the means
    # order-insensitive, so the refined codebook (and every downstream
    # argmin) is bit-deterministic across partitionings. Empty clusters
    # keep their previous centroid (coalesce). Each round lands as a
    # collect_local literal (round 12): the ≤128-row codebook is a
    # LocalTableScan, not an opaque localCheckpoint RDD — per-round
    # lineage stays truncated AND every downstream plan remains fully
    # visible to the EXPLAIN gate.
    #
    # One-pass member means (round 13): the argmin aggregate carries sv
    # alongside the struct-min — every row of a (vec_id, s) group holds
    # the SAME sv (the broadcast fan-out only varies cid), so first(sv)
    # is deterministic and the former `_pq_assign(sub, cents).join(sub)`
    # round-trip (a second execution of the exploded-corpus lineage plus
    # a corpus-wide join exchange, per round) collapses into the one
    # exchange the groupBy already pays. Same rows into the means
    # aggregate ⇒ bit-identical codebook (asserted in the A/B and by
    # l55/l68's oracles, whose SQL still derives means via the join).
    for _ in range(2):
        members = (
            sub.join(F.broadcast(cents), "s")
            .groupBy("vec_id", "s")
            .agg(
                F.min(
                    F.struct(_l2sq("sv", "cv").alias("d2"), "cid")
                ).alias("best"),
                F.first("sv").alias("sv"),
            )
            .select("s", F.col("best.cid").alias("cid"), "sv")
        )
        means = members.groupBy("s", "cid").agg(
            F.array(
                *[
                    (
                        F.sum(
                            F.element_at("sv", i + 1).cast("decimal(28,12)")
                        ).cast("double")
                        / F.count(F.lit(1))
                    )
                    for i in range(_PQ_DIM)
                ]
            ).alias("mv")
        )
        cents = collect_local(
            cents.join(F.broadcast(means), ["s", "cid"], "left").select(
                "s", "cid", F.coalesce("mv", "cv").alias("cv")
            )
        )
    return cents


def _pq_build(spark, sf_dir, pred):
    """The PQ index over a corpus slice: ``codebooks`` (s, cid, cv — 8×16
    trained subspace centroids) and ``codes`` (vec_id, s, code — the 64×
    compressed corpus). Doubles round-trip exactly, so a persisted index
    reproduces the rebuild path bit-for-bit."""
    v, sub = _pq_corpus(spark, sf_dir, pred)
    cents = _pq_train(v, sub)
    return {"codebooks": cents, "codes": _pq_assign(sub, cents)}


#: PQ's insert feed is already exploded into subvectors, so its assigner
#: encodes feed rows directly against the fixed codebooks
PQ = IndexFamily(
    quantizers=("codebooks",),
    tables=("codes",),
    schemas={
        "codebooks": _PQ_CENTS_SCHEMA,
        "codes": _PQ_CODES_SCHEMA,
        "delta_ins": _SUB_SCHEMA,
    },
    build=_pq_build,
    assigner=lambda q: lambda ins: {"codes": _pq_assign(ins, q["codebooks"])},
    feed=_subvectors,
)


def _serve_pq(spark, sf_dir, st):
    """The l55 ADC probe over persisted PQ state; the query subvectors
    (every 100th vector of the final corpus) are the only corpus read."""
    _, sub = _pq_corpus(spark, sf_dir)
    qsub = sub.filter((F.col("vec_id") % 100 == 0) & _final_slice())
    return _pq_probe_topk(qsub, st["codebooks"], st["codes"])


def _pq_probe_topk(qsub, cents, codes):
    """Shared ADC probe (l55 rebuild == l63 persist): per-query 8×16
    distance grid against the codebook, 8-lookup decimal-summed distance
    estimate per candidate, top-5 by (adc_dist, vec_id)."""
    # ADC tables for the query set: full 8×16 distance grid per query
    qd = (
        qsub
        .select(F.col("vec_id").alias("query_id"), "s", F.col("sv").alias("qv"))
        .join(F.broadcast(cents), "s")
        .select(
            "query_id",
            F.col("s").alias("qs"),
            F.col("cid").alias("qcid"),
            _l2sq("qv", "cv").alias("qd2"),
        )
    )
    est = (
        codes.join(
            F.broadcast(qd),
            (F.col("s") == F.col("qs")) & (F.col("code") == F.col("qcid")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        # decimal-summed ADC accumulation (8 lookups/pair): exact and
        # order-insensitive, so the estimated distance — and the top-5 cut
        # it ranks — is bit-reproducible by the DuckDB twin
        .agg(
            F.round(
                F.sum(F.col("qd2").cast("decimal(28,12)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist"
        )
        .orderBy("query_id", "adc_dist", "neighbor_id")
    )


def _pq_pruned_probe_topk(qsub, probes, assignments, cents, codes):
    """IVF-pruned ADC probe (l68's candidate economics in the PERSISTED PQ
    serving path): instead of joining every query's ADC grid against the whole
    code table (l55/l67's full scan — O(corpus × queries) lookups, the
    28.6 s sf1 number SCALING.md documents), candidates are pruned to
    the query's nprobe coarse buckets via the persisted assignments
    table, and ADC scores only those. ``probes`` is (query_id, bucket);
    ``assignments`` is the slim persisted (vec_id, bucket) table. Same
    ranking arithmetic as :func:`_pq_probe_topk` (decimal-summed ADC,
    top-5 by (adc_dist, vec_id)), so the composed from-scratch oracle
    re-derives every stage."""
    cand = (
        assignments.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    qd = (
        qsub
        .select(F.col("vec_id").alias("qid"), "s", F.col("sv").alias("qv"))
        .join(F.broadcast(cents), "s")
        .select(
            "qid",
            F.col("s").alias("qs"),
            F.col("cid").alias("qcid"),
            _l2sq("qv", "cv").alias("qd2"),
        )
    )
    est = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(qd),
            (F.col("query_id") == F.col("qid"))
            & (F.col("s") == F.col("qs"))
            & (F.col("code") == F.col("qcid")),
        )
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.col("qd2").cast("decimal(28,12)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist"
        )
        .orderBy("query_id", "adc_dist", "neighbor_id")
    )


@query("l63_pq_index_persist", oracle=_l55_oracle())
def l63_pq_index_persist(spark, sf_dir):
    """PQ index persistence + reuse (the l62 protocol applied to product
    quantization): l55's trained codebooks and per-vector codes are
    the expensive artifacts — training is two full-corpus Lloyd passes and
    encoding touches every vector — while the ADC probe only needs the
    128-row codebook and the 4-byte codes. This key persists both (the
    :data:`PQ` family's full build) under an :func:`ensure_index` manifest
    (source-listing fingerprint + format version; stale → full rebuild,
    the right trade for codebooks — incremental code maintenance under CDC
    is p5/g15 territory), then answers the SAME probe spec (queries =
    every 100th vector, ADC top-5) purely from the persisted tables plus
    the query slice of the corpus. The returned plan contains NO Lloyd
    stage (no localCheckpoint→ExistingRDD scan; test-pinned) and reads
    embeddings ONLY for the query vectors.

    100 TB: the codes table IS the RAM-resident corpus (4 B/vector/
    subspace); re-encoding it per query — what the rebuild path implies —
    costs a full corpus pass, so persistence is what makes PQ an index
    rather than a query plan. Full SQL oracle: same as l55 — the persisted
    path must equal the rebuild path pair-for-pair."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l63_pq_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="pq-v1",
        build=lambda d: _build_index(PQ, spark, sf_dir, d),
    )
    # schema-explicit read-back (a3 idiom): empty builds leave nothing to
    # infer
    st = _read_state(spark, PQ, idx, ["codebooks", "codes"])
    _, sub = _pq_corpus(spark, sf_dir)
    return _pq_probe_topk(
        sub.filter(F.col("vec_id") % 100 == 0), st["codebooks"], st["codes"]
    )


def _l68_oracle(
    train_pred: str | None = None, corpus_pred: str | None = None
) -> str:
    """DuckDB twin of l68 — the composed IVFADC pipeline: the l12 coarse-
    quantizer CTEs (decimal-mean label centroids, cosine bucket assignment,
    nprobe=3 probe sets) produce the candidate pairs, and the l55 PQ CTEs
    (seeded codebooks, two Lloyd rounds, struct-min codes, per-query ADC
    grids) score exactly those pairs. Every stage reuses the two parent
    oracles' arithmetic verbatim, so the composition inherits their
    bit-reproducibility.

    ``train_pred``/``corpus_pred`` (round 11 — the _l55_oracle/_l71_oracle
    discipline, for k23's composed streaming serving): predicates on
    vec_id restricting the TRAINING slice (coarse centroids, PQ seeds +
    Lloyd membership) and the FINAL corpus (assignments, codes, queries).
    With both None the generated SQL reproduces l68's original semantics
    exactly."""
    d2 = (
        "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sb.sv, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    mean_list = ", ".join(
        f"CAST(SUM(CAST(sb.sv[{i}] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)"
        for i in range(1, 9)
    )
    train_where = f" WHERE {train_pred}" if train_pred else ""
    corpus_where = f" WHERE {corpus_pred}" if corpus_pred else ""
    corpus_and = f" AND {corpus_pred}" if corpus_pred else ""
    # training-side PQ CTEs: with a train_pred the seeds/Lloyd stages read
    # a separate train-slice subspace table (tsub); without one they are
    # the same table the codes use
    sub_t = "tsub" if train_pred else "sub"
    train_ctes = (
        f"""
    tsub AS (
      SELECT vec_id, s, e[s * 8 + 1 : s * 8 + 8] AS sv
      FROM v, LATERAL (SELECT UNNEST(range(8)) AS s) t
      WHERE {train_pred}
    ),"""
        if train_pred
        else ""
    )
    return f"""
    WITH v AS (
      SELECT vec_id, label,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, e,
             SQRT(LIST_SUM(LIST_TRANSFORM(e, x -> x * x))) AS nrm
      FROM v
    ),
    ex AS (
      SELECT label, i, e[i] AS val
      FROM v, LATERAL (SELECT UNNEST(range(1, len(e) + 1)) AS i) t{train_where}
    ),
    cm AS (
      SELECT label, i,
             CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
      FROM ex GROUP BY 1, 2
    ),
    cn AS (
      SELECT bucket, ce,
             SQRT(LIST_SUM(LIST_TRANSFORM(ce, x -> x * x))) AS cnrm
      FROM (SELECT label AS bucket, LIST(cv ORDER BY i) AS ce
            FROM cm GROUP BY label)
    ),
    bscored AS (
      SELECT n.vec_id, c.bucket,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(n.e, c.ce),
                            p -> p[1] * p[2])) / (n.nrm * c.cnrm), 6) AS sim
      FROM n CROSS JOIN cn c
    ),
    indexed AS (
      SELECT vec_id, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM bscored{corpus_where}) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM bscored WHERE vec_id % 100 = 0{corpus_and}) WHERE rn <= 3
    ),
    cand AS (
      SELECT q.query_id, i.vec_id
      FROM probes q JOIN indexed i USING (bucket)
      WHERE i.vec_id <> q.query_id
    ),
    seeds AS (
      SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid
      FROM (SELECT vec_id, e,
              ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))
                ::BIGINT AS h
            FROM v{train_where})
      QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16
    ),
    sub AS (
      SELECT vec_id, s, e[s * 8 + 1 : s * 8 + 8] AS sv
      FROM v, LATERAL (SELECT UNNEST(range(8)) AS s) t{corpus_where}
    ),{train_ctes}
    cents0 AS (
      SELECT sb.s, sd.cid, sb.sv AS cv
      FROM seeds sd JOIN {sub_t} sb ON sb.vec_id = sd.vec_id
    ),
    a0 AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM {sub_t} sb JOIN cents0 c USING (s)
      ) WHERE rn = 1
    ),
    m0 AS (
      SELECT a0.s, a0.code AS cid, [{mean_list}] AS mv
      FROM a0 JOIN {sub_t} sb USING (vec_id, s)
      GROUP BY a0.s, a0.code
    ),
    cents1 AS (
      SELECT c.s, c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM cents0 c LEFT JOIN m0 m ON m.s = c.s AND m.cid = c.cid
    ),
    a1 AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM {sub_t} sb JOIN cents1 c USING (s)
      ) WHERE rn = 1
    ),
    m1 AS (
      SELECT a1.s, a1.code AS cid, [{mean_list}] AS mv
      FROM a1 JOIN {sub_t} sb USING (vec_id, s)
      GROUP BY a1.s, a1.code
    ),
    cents2 AS (
      SELECT c.s, c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM cents1 c LEFT JOIN m1 m ON m.s = c.s AND m.cid = c.cid
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM sub sb JOIN cents2 c USING (s)
      ) WHERE rn = 1
    ),
    qd AS (
      SELECT sb.vec_id AS query_id, sb.s AS qs, c.cid AS qcid, {d2} AS qd2
      FROM sub sb JOIN cents2 c USING (s)
      WHERE sb.vec_id % 100 = 0
    ),
    est AS (
      SELECT cd.query_id, cd.vec_id,
             ROUND(CAST(SUM(CAST(q.qd2 AS DECIMAL(28,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM cand cd
      JOIN codes ON codes.vec_id = cd.vec_id
      JOIN qd q ON q.query_id = cd.query_id
             AND q.qs = codes.s AND q.qcid = codes.code
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id AS neighbor_id, adc_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, vec_id) AS rn
      FROM est) WHERE rn <= 5
    """


@query("l68_ivfadc_topk", oracle=_l68_oracle())
def l68_ivfadc_topk(spark, sf_dir):
    """IVFADC — the composed system of Jégou/Douze/Schmid 2011 that l12
    and l55 each implement half of (and l55's docstring promises): the
    IVF coarse quantizer prunes candidates to the query's nprobe=3
    buckets, and ADC scores ONLY those candidates with 8 table lookups
    each — turning PQ's linear scan into bucket-local work. PQ here
    quantizes raw vectors, not residuals (FAISS IndexIVFPQ's
    ``by_residual=False`` mode) — the residual variant changes the
    codebook input, not the composition, and is the documented upgrade.

    Shape: corpus → IVF bucket (map-side literal codebook, l12) and PQ
    codes (broadcast-join argmin, l55); queries (every 100th vector) →
    3 probe buckets + an 8×16 ADC grid; candidates = bucket equi-join;
    est = candidate pairs ⋈ codes ⋈ broadcast grid, decimal-summed.
    Both parent pipelines are bit-deterministic, so the composition
    carries a full SQL oracle that re-derives EVERY stage.

    100 TB: candidates per query fall from N (l55's full scan) to
    ~N·nprobe/buckets, which is the entire point of the inverted file;
    the ADC join then touches 4-byte codes only. With the l62/l63
    persisted indexes this probe runs against on-disk artifacts; the
    recall/efficiency trade (nprobe, bucket count) is the operational
    knob. Recall vs brute force is asserted in tests."""
    vecs, cent = _ivf_corpus_and_centroids(spark, sf_dir)
    cent_rows = cent.collect()
    indexed = ivf_assign(vecs, cent_rows, nprobe=1).select("vec_id", "bucket")
    probes = ivf_assign(
        vecs.filter(F.col("vec_id") % 100 == 0), cent_rows, nprobe=3
    ).select(F.col("vec_id").alias("query_id"), "bucket")
    cand = (
        indexed.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    v, sub = _pq_corpus(spark, sf_dir)
    cents = _pq_train(v, sub)
    codes = _pq_assign(sub, cents)
    qd = (
        sub.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("qid"), "s", F.col("sv").alias("qv"))
        .join(F.broadcast(cents), "s")
        .select(
            "qid",
            F.col("s").alias("qs"),
            F.col("cid").alias("qcid"),
            _l2sq("qv", "cv").alias("qd2"),
        )
    )
    est = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(qd),
            (F.col("query_id") == F.col("qid"))
            & (F.col("s") == F.col("qs"))
            & (F.col("code") == F.col("qcid")),
        )
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.col("qd2").cast("decimal(28,12)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist")
        .orderBy("query_id", "adc_dist", "neighbor_id")
    )


def _l71_oracle(
    train_pred: str | None = None, corpus_pred: str | None = None
) -> str:
    """DuckDB twin of l71 — the l68 composition with FAISS-default
    residual encoding: after the coarse assignment, every CTE operates on
    r = e − ce(bucket) instead of e — seeds, Lloyd rounds, codes, and the
    per-(query, probed-bucket) ADC grids all re-derived over residuals,
    inheriting the parents' bit-reproducibility (residual subtraction is
    element-wise double arithmetic in identical order both engines).

    ``train_pred``/``corpus_pred`` (l77/l78, the _l55_oracle discipline):
    predicates on vec_id restricting the TRAINING slice (coarse
    centroids, residual seeds + Lloyd membership) and the FINAL corpus
    (assignments, codes, queries) — the trained-on-yesterday /
    tracks-today split the delta keys maintain. With both None the
    generated SQL reproduces l71's original semantics exactly."""
    d2 = (
        "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sb.sv, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    mean_list = ", ".join(
        f"CAST(SUM(CAST(sb.sv[{i}] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)"
        for i in range(1, 9)
    )
    train_where = f" WHERE {train_pred}" if train_pred else ""
    corpus_where = f" WHERE {corpus_pred}" if corpus_pred else ""
    corpus_and = f" AND {corpus_pred}" if corpus_pred else ""
    # training-side residual CTEs: with a train_pred the seeds/Lloyd
    # stages read a separate train-slice assignment (tindexed/tresid/
    # tsub); without one they are the same tables the codes use
    resid_t = "tresid" if train_pred else "resid"
    sub_t = "tsub" if train_pred else "sub"
    train_ctes = (
        f"""
    tindexed AS (
      SELECT vec_id, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM bscored WHERE {train_pred}) WHERE rn = 1
    ),
    tresid AS (
      SELECT i.vec_id,
             LIST_TRANSFORM(LIST_ZIP(nn.e, c.ce), p -> p[1] - p[2]) AS r
      FROM tindexed i
      JOIN n nn ON nn.vec_id = i.vec_id
      JOIN cn c ON c.bucket = i.bucket
    ),
    tsub AS (
      SELECT vec_id, s, r[s * 8 + 1 : s * 8 + 8] AS sv
      FROM tresid, LATERAL (SELECT UNNEST(range(8)) AS s) t
    ),"""
        if train_pred
        else ""
    )
    return f"""
    WITH v AS (
      SELECT vec_id, label,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, e,
             SQRT(LIST_SUM(LIST_TRANSFORM(e, x -> x * x))) AS nrm
      FROM v
    ),
    ex AS (
      SELECT label, i, e[i] AS val
      FROM v, LATERAL (SELECT UNNEST(range(1, len(e) + 1)) AS i) t{train_where}
    ),
    cm AS (
      SELECT label, i,
             CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
      FROM ex GROUP BY 1, 2
    ),
    cn AS (
      SELECT bucket, ce,
             SQRT(LIST_SUM(LIST_TRANSFORM(ce, x -> x * x))) AS cnrm
      FROM (SELECT label AS bucket, LIST(cv ORDER BY i) AS ce
            FROM cm GROUP BY label)
    ),
    bscored AS (
      SELECT n.vec_id, c.bucket,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(n.e, c.ce),
                            p -> p[1] * p[2])) / (n.nrm * c.cnrm), 6) AS sim
      FROM n CROSS JOIN cn c
    ),
    indexed AS (
      SELECT vec_id, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM bscored{corpus_where}) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM bscored WHERE vec_id % 100 = 0{corpus_and}) WHERE rn <= 3
    ),
    resid AS (
      SELECT i.vec_id,
             LIST_TRANSFORM(LIST_ZIP(nn.e, c.ce), p -> p[1] - p[2]) AS r
      FROM indexed i
      JOIN n nn ON nn.vec_id = i.vec_id
      JOIN cn c ON c.bucket = i.bucket
    ),{train_ctes}
    seeds AS (
      SELECT vec_id, r, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid
      FROM (SELECT vec_id, r,
              ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))
                ::BIGINT AS h
            FROM {resid_t})
      QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16
    ),
    sub AS (
      SELECT vec_id, s, r[s * 8 + 1 : s * 8 + 8] AS sv
      FROM resid, LATERAL (SELECT UNNEST(range(8)) AS s) t
    ),
    cents0 AS (
      SELECT sb.s, sd.cid, sb.sv AS cv
      FROM seeds sd JOIN {sub_t} sb ON sb.vec_id = sd.vec_id
    ),
    a0 AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM {sub_t} sb JOIN cents0 c USING (s)
      ) WHERE rn = 1
    ),
    m0 AS (
      SELECT a0.s, a0.code AS cid, [{mean_list}] AS mv
      FROM a0 JOIN {sub_t} sb USING (vec_id, s)
      GROUP BY a0.s, a0.code
    ),
    cents1 AS (
      SELECT c.s, c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM cents0 c LEFT JOIN m0 m ON m.s = c.s AND m.cid = c.cid
    ),
    a1 AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM {sub_t} sb JOIN cents1 c USING (s)
      ) WHERE rn = 1
    ),
    m1 AS (
      SELECT a1.s, a1.code AS cid, [{mean_list}] AS mv
      FROM a1 JOIN {sub_t} sb USING (vec_id, s)
      GROUP BY a1.s, a1.code
    ),
    cents2 AS (
      SELECT c.s, c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM cents1 c LEFT JOIN m1 m ON m.s = c.s AND m.cid = c.cid
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM sub sb JOIN cents2 c USING (s)
      ) WHERE rn = 1
    ),
    qresid AS (
      SELECT p.query_id, p.bucket,
             LIST_TRANSFORM(LIST_ZIP(nn.e, c.ce), z -> z[1] - z[2]) AS qr
      FROM probes p
      JOIN n nn ON nn.vec_id = p.query_id
      JOIN cn c ON c.bucket = p.bucket
    ),
    qsub AS (
      SELECT query_id, bucket, s, qr[s * 8 + 1 : s * 8 + 8] AS sv
      FROM qresid, LATERAL (SELECT UNNEST(range(8)) AS s) t
    ),
    qd AS (
      SELECT sb.query_id, sb.bucket, sb.s AS qs, c.cid AS qcid, {d2} AS qd2
      FROM qsub sb JOIN cents2 c USING (s)
    ),
    cand AS (
      SELECT q.query_id, i.vec_id, q.bucket
      FROM probes q JOIN indexed i USING (bucket)
      WHERE i.vec_id <> q.query_id
    ),
    est AS (
      SELECT cd.query_id, cd.vec_id,
             ROUND(CAST(SUM(CAST(q.qd2 AS DECIMAL(28,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM cand cd
      JOIN codes ON codes.vec_id = cd.vec_id
      JOIN qd q ON q.query_id = cd.query_id AND q.bucket = cd.bucket
             AND q.qs = codes.s AND q.qcid = codes.code
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id AS neighbor_id, adc_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, vec_id) AS rn
      FROM est) WHERE rn <= 5
    """


@query("l71_ivfadc_residual", oracle=_l71_oracle())
def l71_ivfadc_residual(spark, sf_dir):
    """IVFADC with residual encoding (the FAISS-default
    ``by_residual=True`` regime l68's docstring names as the accuracy
    upgrade, Jégou/Douze/Schmid 2011 §III): the PQ codebooks are trained
    on r = x − q1(x) — each vector minus its coarse centroid — so the
    quantizer spends its 4 bits on the WITHIN-bucket geometry instead of
    re-encoding the bucket offset the coarse index already knows; this
    is why residual encoding dominates raw-vector PQ as buckets tighten.

    The composition changes in exactly two places vs l68: (1) the
    encode side quantizes residuals (one broadcast join pins each
    vector's coarse centroid, the subtraction is a codegen zip_with);
    (2) the ADC grid becomes PER-(QUERY, PROBED-BUCKET) — the query's
    residual differs per bucket (q − ce_b), so a query probing nprobe=3
    buckets builds 3 distance tables, the documented cost of residual
    mode (FAISS precomputes terms for the same reason). Candidates then
    join their grid on (query, bucket, s, code). Top-5 by (adc_dist,
    vec_id), self-matches excluded.

    Determinism: residual subtraction is element-wise double arithmetic
    in identical order both engines; seeds/Lloyd/codes inherit the l55
    discipline (digest seeding, decimal-exact means, struct-min argmin),
    so the full SQL oracle re-derives every stage over residuals and
    must agree pair-for-pair.

    100 TB: same candidate economics as l68 (N·nprobe/buckets); the
    extra cost is nprobe ADC grids per query (nprobe × M × K tiny-row
    work, still broadcast) — the standard trade for the recall gain;
    recall vs l68 is measured in the SCALING.md sizing table."""
    # the RIVF build collects the coarse codebook once (collect_local): it
    # is broadcast-joined in BOTH the residual train (per Lloyd collect)
    # and the probe, and as a lazy frame its posexplode double-shuffle
    # would re-run inside every one of those jobs
    return _serve_rivf(RIVF.build(spark, sf_dir, None))


def _residual_train(indexed, cent):
    """Train residual PQ codebooks + codes over an assigned corpus
    (l71 rebuild == l73 build): r = e − ce(bucket) per vector, then the
    l55 training discipline (digest seeds, decimal-exact Lloyd,
    struct-min codes) over residual subvectors."""
    resid = indexed.join(F.broadcast(cent), "bucket").select(
        "vec_id",
        "bucket",
        F.zip_with("e", "ce", lambda x, y: x - y).alias("r"),
    )
    v_res = resid.select("vec_id", F.col("r").alias("e"))
    sub_res = _pq_subspaces(v_res).select("vec_id", "s", "sv")
    cents = _pq_train(v_res, sub_res)
    return cents, _pq_assign(sub_res, cents)


def _residual_probe(indexed, cent, cent_rows, cents, codes):
    """Shared residual-ADC probe (l71 rebuild == l73 persist): queries =
    every 100th indexed vector assigned to nprobe=3 buckets, residual
    (and thus the ADC grid) PER (query, bucket), candidates scored by 8
    code lookups against their bucket's grid, top-5 by (adc_dist,
    vec_id)."""
    probes = ivf_assign(
        indexed.select("vec_id", "e", "nrm").filter(
            F.col("vec_id") % 100 == 0
        ),
        cent_rows,
        nprobe=3,
    ).select(F.col("vec_id").alias("query_id"), "e", "bucket")
    qresid = (
        probes.join(F.broadcast(cent), "bucket")
        .select(
            "query_id",
            "bucket",
            F.zip_with("e", "ce", lambda x, y: x - y).alias("qr"),
        )
    )
    qsub = _pq_subspaces(qresid, vec_col="qr").select(
        "query_id", "bucket", "s", "sv"
    )
    qd = (
        qsub.join(F.broadcast(cents), "s")
        .select(
            F.col("query_id").alias("qid"),
            F.col("bucket").alias("qbucket"),
            F.col("s").alias("qs"),
            F.col("cid").alias("qcid"),
            _l2sq("sv", "cv").alias("qd2"),
        )
    )
    cand = (
        indexed.select("vec_id", "bucket")
        .join(
            F.broadcast(probes.select("query_id", "bucket")), "bucket"
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "bucket")
    )
    est = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(qd),
            (F.col("query_id") == F.col("qid"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("s") == F.col("qs"))
            & (F.col("code") == F.col("qcid")),
        )
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.col("qd2").cast("decimal(28,12)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist")
        .orderBy("query_id", "adc_dist", "neighbor_id")
    )


def _rivf_build(spark, sf_dir, pred):
    """The residual-IVFADC index over a corpus slice: the IVF coarse
    codebook and inverted file (vec_id, e, nrm, bucket — e kept for the
    residual), then residual-trained PQ codebooks and 4-bit residual
    codes. Everything the probe needs; the raw corpus is never read
    again."""
    st = _ivf_build(spark, sf_dir, pred)
    cents, codes = _residual_train(st["assignments"], st["centroids"])
    return {**st, "codebooks": cents, "codes": codes}


def _rivf_assigner(q):
    """Inserts get a map-side coarse assignment, then a residual encode:
    one broadcast join pins each insert's coarse centroid, the
    subtraction is a codegen zip_with, and the PQ code is the same
    map-side :func:`_pq_assign` — all against FIXED quantizers."""
    ivf, cent, cents = _ivf_assigner(q), q["centroids"], q["codebooks"]

    def assign(ins):
        assigned = ivf(ins)["assignments"]
        resid = assigned.join(F.broadcast(cent), "bucket").select(
            "vec_id", F.zip_with("e", "ce", lambda x, y: x - y).alias("e")
        )
        return {"assignments": assigned, "codes": _pq_assign(_subvectors(resid), cents)}

    return assign


#: residual births land one table per link: a k24 stream's history starts
#: with the inverted file's link, then the codes' link
RIVF = IndexFamily(
    quantizers=("centroids", "codebooks"),
    tables=("assignments", "codes"),
    schemas={
        "centroids": _CENT_SCHEMA,
        "assignments": _IVF_ASSIGN_SCHEMA,
        "codebooks": _PQ_CENTS_SCHEMA,
        "codes": _PQ_CODES_SCHEMA,
        "delta_ins": _EMBED_SCHEMA,
    },
    build=_rivf_build,
    assigner=_rivf_assigner,
    births=(("assignments",), ("codes",)),
)


def _serve_rivf(st):
    """The l71 residual-ADC probe over (persisted) residual-IVFADC state."""
    cent = st["centroids"]
    return _residual_probe(
        st["assignments"], cent, cent.collect(), st["codebooks"], st["codes"]
    )


@query("l73_residual_index_persist", oracle=_l71_oracle())
def l73_residual_index_persist(spark, sf_dir):
    """Residual-IVFADC index persistence (the l62/l63 lifecycle applied to
    l71, so every ANN variant in the engine has a persisted
    steady-state path): the coarse codebook, inverted-file assignments,
    residual-trained PQ codebooks, and residual codes are all built once
    under an :func:`ensure_index` staleness manifest, and the probe —
    same spec as l71 — answers purely from the persisted tables. The
    returned plan has NO Lloyd stage, NO coarse-centroid training, and
    ZERO embeddings scans (queries come from the inverted file;
    test-pinned); the oracle is l71's full from-scratch twin, so the
    persisted path must equal the rebuild path pair-for-pair.

    100 TB: residual mode makes persistence MORE valuable than raw-PQ
    (l63): the rebuild path pays IVF training + assignment + residual
    subtraction + Lloyd — two corpus passes and a broadcast join more
    than raw PQ — while the persisted probe pays exactly what l63's
    does (codes + grids + bucket join). Delta maintenance composes via
    l65 (assignments) and l67 (codes); generation write-back via
    l70/l72's checkpoint protocol."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l73_rivfadc_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="rivfadc-v1",
        build=lambda d: _build_index(RIVF, spark, sf_dir, d),
    )
    return _serve_rivf(_read_heads(spark, RIVF, idx))


_L67_ORACLE = _l55_oracle(train_pred=_OLD_SQL, corpus_pred=_FINAL_SQL)

_L77_ORACLE = _l71_oracle(train_pred=_OLD_SQL, corpus_pred=_FINAL_SQL)

#: k23/l81's composed serving: IVFADC (by_residual=False) with quantizers
#: trained on yesterday's slice, index tables tracking the final corpus
_L68D_ORACLE = _l68_oracle(train_pred=_OLD_SQL, corpus_pred=_FINAL_SQL)


@query("l77_residual_index_delta", oracle=_L77_ORACLE)
def l77_residual_index_delta(spark, sf_dir):
    """Incremental residual-IVFADC maintenance (the l65/l67 algebra
    composed over BOTH of l71's index tables): a CDC embedding delta —
    inserts (``%9==5``) and tombstones
    (``%11==3``) — updates the persisted inverted file AND the residual
    code table without re-training or re-encoding the corpus:

    - the coarse codebook and the residual PQ codebooks stay FIXED
      (trained on yesterday's corpus — the FAISS operational contract:
      quantizers retrain on a slow cadence, assignments/codes track the
      data; a quantizer refresh is the l73 rebuild via the staleness
      manifest);
    - inserts: map-side coarse assignment (l65's literal-codebook
      expression), then residual encode against the insert's pinned
      centroid (broadcast join + codegen zip_with) and map-side PQ code
      assignment (l67's `_pq_assign`) — O(|delta|), zero Lloyd;
    - deletes: one broadcast anti-join per table.

    The probe (same spec as l71/l73) runs over the delta-maintained
    tables; the oracle re-derives the ENTIRE final state from scratch —
    old-slice coarse centroids and residual training, final-corpus
    assignments/codes/queries — so a stale codebook, a mis-bucketed
    insert, a wrong-residual encode, or a surviving tombstone diverges
    the hash. Maintenance+probe reads only persisted tables and staged
    feeds: zero embeddings scans, no training stage (test-pinned).

    100 TB: residual mode doubles the state a naive refresh would
    rebuild (inverted file + codes); this key keeps the nightly cost at
    O(|delta|) map work + two broadcast anti-joins for BOTH tables."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l77_rivfadc_delta_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="rivfadc-delta-v1",
        build=lambda d: _stage_index(RIVF, spark, sf_dir, d),
    )
    return _serve_rivf(_merged_feeds(RIVF, spark, idx))


@query("l78_residual_index_checkpoint", oracle=_L77_ORACLE)
def l78_residual_index_checkpoint(spark, sf_dir):
    """Residual-IVFADC write-back: l77's merge runs ONCE inside the build,
    then ONE :func:`checkpoint_index_generations` transaction lands
    ``assignments-g002`` AND ``codes-g002`` under a single VACUUM.json
    history link (``bys``) — there is no observable manifest state where
    the inverted file moved and the code table didn't, so there is no
    crash window between two commits to recover from. The old tables and
    both CDC feeds are vacuumed by the same link; the quantizer
    artifacts (centroids, codebooks) survive as the next window's fixed
    basis.

    The probe reads ONLY the two compacted generations + the persisted
    quantizers: no anti-join, no union, no Lloyd, zero embeddings scans
    (all test-pinned with the single-link two-generation vacuum
    layout). Oracle = l77's from-scratch twin: checkpointed == merged
    == rebuilt.

    100 TB: one maintenance window's O(index) IO retires the per-probe
    merge tax on BOTH tables at once, and one commit point for the pair
    is what makes the served ANN snapshot consistent without cross-table
    read fences."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    def _stage(d: str) -> None:
        _stage_index(RIVF, spark, sf_dir, d)
        _checkpoint_feeds(RIVF, spark, d)

    idx = ensure_index(
        scratch_path(f"dps_l78_rivfadc_ckpt_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="rivfadc-ckpt-v2",
        build=_stage,
    )
    return _serve_rivf(_read_heads(spark, RIVF, idx))


def _ivfpq_build(spark, sf_dir, pred):
    """The IVFADC (by_residual=False) pair over a corpus slice: the IVF
    coarse codebook and PQ codebooks as quantizers, a SLIM inverted file
    (vec_id, bucket — pruned serving needs membership only) and the code
    table."""
    ivf, pq = _ivf_build(spark, sf_dir, pred), _pq_build(spark, sf_dir, pred)
    return {
        "centroids": ivf["centroids"],
        "codebooks": pq["codebooks"],
        "assignments": ivf["assignments"].select("vec_id", "bucket"),
        "codes": pq["codes"],
    }


def _ivfpq_assigner(q):
    """Map-side coarse assignment plus PQ encode of the insert vectors
    against both FIXED quantizers."""
    ivf, cents = _ivf_assigner(q), q["codebooks"]
    return lambda ins: {
        "assignments": ivf(ins)["assignments"].select("vec_id", "bucket"),
        "codes": _pq_assign(_subvectors(ins), cents),
    }


#: the pair is born as one generation link in batch too, so a reader
#: always resolves a consistent (assignments, codes) snapshot
IVFPQ = IndexFamily(
    quantizers=("centroids", "codebooks"),
    tables=("assignments", "codes"),
    schemas={
        "centroids": _CENT_SCHEMA,
        "codebooks": _PQ_CENTS_SCHEMA,
        "assignments": _SLIM_ASSIGN_SCHEMA,
        "codes": _PQ_CODES_SCHEMA,
        "delta_ins": _EMBED_SCHEMA,
    },
    build=_ivfpq_build,
    assigner=_ivfpq_assigner,
    born=True,
)


def _serve_ivfpq(spark, sf_dir, st, qpred):
    """l68's pruned IVFADC composition over a persisted pair: queries
    (every 100th vector within ``qpred``) probe their nprobe=3 coarse
    buckets via the inverted file and ADC scores only those candidates;
    the query slice is the only corpus read."""
    qvecs, _ = _ivf_corpus_and_centroids(
        spark, sf_dir, pred=(F.col("vec_id") % 100 == 0) & qpred
    )
    probes = ivf_assign(qvecs, st["centroids"].collect(), nprobe=3).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    return _pq_pruned_probe_topk(
        _subvectors(qvecs), probes, st["assignments"], st["codebooks"], st["codes"]
    )


@query("l81_ivfpq_pruned_checkpoint", oracle=_L68D_ORACLE)
def l81_ivfpq_pruned_checkpoint(spark, sf_dir):
    """Batch IVF-pruned PQ serving over an atomically-maintained pair (the
    batch twin of k23): the slim coarse inverted file AND the PQ
    code table are delta-maintained together (broadcast anti-join
    deletes; map-side coarse assignment + ``_pq_assign`` encoding of the
    insert vectors against FIXED quantizers — l77's algebra minus the
    residual step) and checkpointed as ONE generation-pair transaction
    (:func:`checkpoint_index_generations`); serving is l68's IVFADC
    composition from the persisted pair — the query probes its nprobe=3
    coarse buckets and ADC scores only those candidates, never the full
    code table (the l55/l63/l67/l72 full-scan spec remains the
    correctness baseline).

    Same composed from-scratch oracle as k23 (``_l68_oracle`` with the
    trained-on-yesterday / tracks-today split): the checkpointed pair
    must answer exactly as the SQL rebuild of both quantizers, both
    final-corpus tables, and the pruned probe — so a mis-bucketed
    insert, a surviving tombstone in EITHER table, or a torn pair
    commit diverges the hash.

    100 TB: candidates fall from N to ~N·nprobe/buckets; the membership
    table is 12 B/vector and the codes 4 B/subspace — the serving tier
    reads only those plus the two broadcast-size quantizers. One commit
    point for the pair is what lets a reader resolve a CONSISTENT
    (assignments, codes) snapshot with no cross-table fence."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    def _stage(d: str) -> None:
        _stage_index(IVFPQ, spark, sf_dir, d)
        _checkpoint_feeds(IVFPQ, spark, d, target_files=8)

    idx = ensure_index(
        scratch_path(f"dps_l81_ivfpq_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="ivfpq-pruned-v1",
        build=_stage,
    )
    return _serve_ivfpq(spark, sf_dir, _read_heads(spark, IVFPQ, idx), _final_slice())


_CQ_K = 64  # corpus-sized coarse cells (the K ~ sqrt(N) sizing rule)
_CQ_NPROBE = 8


def _coarse_kmeans_train(v, k: int = _CQ_K):
    """Seeded-Lloyd k-means COARSE quantizer over FULL vectors (round 11
    — the K ∝ √N sizing rule the l81/k23 sf10 analysis names as the
    100 TB knob, built with the exact discipline ``_pq_train`` proved:
    digest-seeded init ('cq:' domain — disjoint from the PQ 'pq:'
    stream), two decimal-exact Lloyd rounds, ROUNDED-distance struct-min
    membership so the argmin is bit-reproducible in DuckDB despite
    64-element double sums). Unlike the label-based ``l12`` quantizer
    (K fixed at the fixture's 10 labels), ``k`` is a corpus-sizing
    parameter — the thing that keeps per-query candidates ~N·nprobe/K
    sub-linear when K grows with the corpus; l84/l85 pass the
    data-derived K=⌈√N⌉ (round 12). Returns (cid, cv)."""
    digest = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cq:"), F.col("vec_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    seeds = (
        v.withColumn("h", digest)
        .orderBy("h", "vec_id")
        .limit(k)
        .withColumn(
            "cid", F.row_number().over(Window.orderBy("h", "vec_id")) - 1
        )
    )
    cents = seeds.select("cid", F.col("e").alias("cv"))
    # one-pass member means (round 13 — the _pq_train fix applied to the
    # coarse quantizer): the struct-min argmin carries e alongside it
    # (every row of a vec_id group holds the same e — the broadcast
    # crossJoin only varies cid), so the former assign-then-join-back
    # round trip (a second execution of the corpus lineage plus a
    # corpus-wide join exchange, per Lloyd round) collapses into the one
    # exchange the groupBy already pays. Same rows into the means
    # aggregate ⇒ bit-identical codebook (the oracle still derives means
    # via the join).
    for _ in range(2):
        members = (
            v.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        F.round(_l2sq("e", "cv"), 6).alias("d2"), "cid"
                    )
                ).alias("best"),
                F.first("e").alias("e"),
            )
            .select(F.col("best.cid").alias("cid"), "e")
        )
        means = members.groupBy("cid").agg(
            F.array(
                *[
                    (
                        F.sum(
                            F.element_at("e", i + 1).cast("decimal(28,12)")
                        ).cast("double")
                        / F.count(F.lit(1))
                    )
                    for i in range(64)
                ]
            ).alias("mv")
        )
        cents = collect_local(
            cents.join(F.broadcast(means), "cid", "left").select(
                "cid", F.coalesce("mv", "cv").alias("cv")
            )
        )
    return cents


def _coarse_kmeans_assign(v, cents, nprobe: int = 1):
    """Nearest coarse cell(s) per vector — bounded broadcast crossJoin
    (≤64 centroid rows) + struct-min / windowed top-nprobe on the
    ROUNDED squared L2 (6 dp, ties by cid): the quantization both
    engines reproduce bit-for-bit. Returns (vec_id, bucket) rows —
    nprobe of them per vector."""
    scored = v.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.col("cid"),
        F.round(_l2sq("e", "cv"), 6).alias("d2"),
    )
    if nprobe == 1:
        return (
            scored.groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cid")).alias("best"))
            .select("vec_id", F.col("best.cid").alias("bucket"))
        )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", F.col("cid").alias("bucket"))
    )


def _l83_oracle(
    train_pred: str | None = None,
    corpus_pred: str | None = None,
    k_sql: str | None = None,
) -> str:
    """DuckDB twin of l83/l84/l85 — the l68 composition with the
    label-based coarse quantizer replaced by the seeded-Lloyd k-means
    one: 'cq:' digest seeds, two CTE-unrolled Lloyd rounds with
    64-element decimal-exact centroid means, rounded-L2 struct-min
    membership; the PQ CTEs are _l68_oracle's verbatim.

    Parameterized like :func:`_l68_oracle` (round 12 — the lifecycle
    composition): ``train_pred`` restricts the slice BOTH quantizers are
    trained on (coarse seeds + Lloyd memberships, PQ seeds + Lloyd),
    ``corpus_pred`` the FINAL corpus the index tables and queries track,
    and ``k_sql`` is the coarse-codebook size as a SQL expression — the
    default reproduces l83's fixed K; l84/l85 pass the data-derived
    ``GREATEST(1, CEIL(SQRT(COUNT(train))))`` so the oracle re-derives
    the K ∝ √N sizing rule from the data, exactly as the engine does."""
    d2c = (
        "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(vv.e, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    d2 = (
        "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sb.sv, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    mean64 = ", ".join(
        f"CAST(SUM(CAST(vv.e[{i}] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)"
        for i in range(1, 65)
    )
    mean_list = ", ".join(
        f"CAST(SUM(CAST(sb.sv[{i}] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)"
        for i in range(1, 9)
    )
    if k_sql is None:
        k_sql = str(_CQ_K)
    tv = "vt" if train_pred else "v"
    vc = "vc" if corpus_pred else "v"
    sub_t = "tsub" if train_pred else "sub"
    split_ctes = ""
    if train_pred:
        split_ctes += f"""
    vt AS (SELECT vec_id, e FROM v WHERE {train_pred}),"""
    if corpus_pred:
        split_ctes += f"""
    vc AS (SELECT vec_id, e FROM v WHERE {corpus_pred}),"""
    tsub_cte = (
        f"""
    tsub AS (
      SELECT vec_id, s, e[s * 8 + 1 : s * 8 + 8] AS sv
      FROM vt, LATERAL (SELECT UNNEST(range(8)) AS s) t
    ),"""
        if train_pred
        else ""
    )
    return f"""
    WITH v AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),{split_ctes}
    cseeds AS (
      SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid
      FROM (SELECT vec_id, e,
              ('0x' || substr(md5('cq:' || CAST(vec_id AS VARCHAR)), 1, 15))
                ::BIGINT AS h
            FROM {tv})
      QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= {k_sql}
    ),
    ccents0 AS (SELECT cid, e AS cv FROM cseeds),
    ca0 AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT vv.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY vv.vec_id
                 ORDER BY ROUND({d2c}, 6), c.cid) AS rn
        FROM {tv} vv CROSS JOIN ccents0 c
      ) WHERE rn = 1
    ),
    cm0 AS (
      SELECT ca0.bucket AS cid, [{mean64}] AS mv
      FROM ca0 JOIN {tv} vv USING (vec_id)
      GROUP BY ca0.bucket
    ),
    ccents1 AS (
      SELECT c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM ccents0 c LEFT JOIN cm0 m ON m.cid = c.cid
    ),
    ca1 AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT vv.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY vv.vec_id
                 ORDER BY ROUND({d2c}, 6), c.cid) AS rn
        FROM {tv} vv CROSS JOIN ccents1 c
      ) WHERE rn = 1
    ),
    cm1 AS (
      SELECT ca1.bucket AS cid, [{mean64}] AS mv
      FROM ca1 JOIN {tv} vv USING (vec_id)
      GROUP BY ca1.bucket
    ),
    ccents2 AS (
      SELECT c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM ccents1 c LEFT JOIN cm1 m ON m.cid = c.cid
    ),
    indexed AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT vv.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY vv.vec_id
                 ORDER BY ROUND({d2c}, 6), c.cid) AS rn
        FROM {vc} vv CROSS JOIN ccents2 c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cid AS bucket FROM (
        SELECT vv.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY vv.vec_id
                 ORDER BY ROUND({d2c}, 6), c.cid) AS rn
        FROM {vc} vv CROSS JOIN ccents2 c
        WHERE vv.vec_id % 100 = 0
      ) WHERE rn <= {_CQ_NPROBE}
    ),
    cand AS (
      SELECT q.query_id, i.vec_id
      FROM probes q JOIN indexed i USING (bucket)
      WHERE i.vec_id <> q.query_id
    ),
    seeds AS (
      SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid
      FROM (SELECT vec_id, e,
              ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))
                ::BIGINT AS h
            FROM {tv})
      QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16
    ),
    sub AS (
      SELECT vec_id, s, e[s * 8 + 1 : s * 8 + 8] AS sv
      FROM {vc}, LATERAL (SELECT UNNEST(range(8)) AS s) t
    ),{tsub_cte}
    cents0 AS (
      SELECT sb.s, sd.cid, sb.sv AS cv
      FROM seeds sd JOIN {sub_t} sb ON sb.vec_id = sd.vec_id
    ),
    a0 AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM {sub_t} sb JOIN cents0 c USING (s)
      ) WHERE rn = 1
    ),
    m0 AS (
      SELECT a0.s, a0.code AS cid, [{mean_list}] AS mv
      FROM a0 JOIN {sub_t} sb USING (vec_id, s)
      GROUP BY a0.s, a0.code
    ),
    cents1 AS (
      SELECT c.s, c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM cents0 c LEFT JOIN m0 m ON m.s = c.s AND m.cid = c.cid
    ),
    a1 AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM {sub_t} sb JOIN cents1 c USING (s)
      ) WHERE rn = 1
    ),
    m1 AS (
      SELECT a1.s, a1.code AS cid, [{mean_list}] AS mv
      FROM a1 JOIN {sub_t} sb USING (vec_id, s)
      GROUP BY a1.s, a1.code
    ),
    cents2 AS (
      SELECT c.s, c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM cents1 c LEFT JOIN m1 m ON m.s = c.s AND m.cid = c.cid
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sb.vec_id, sb.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY sb.vec_id, sb.s
                 ORDER BY {d2}, c.cid) AS rn
        FROM sub sb JOIN cents2 c USING (s)
      ) WHERE rn = 1
    ),
    qd AS (
      SELECT sb.vec_id AS query_id, sb.s AS qs, c.cid AS qcid, {d2} AS qd2
      FROM sub sb JOIN cents2 c USING (s)
      WHERE sb.vec_id % 100 = 0
    ),
    est AS (
      SELECT cd.query_id, cd.vec_id,
             ROUND(CAST(SUM(CAST(q.qd2 AS DECIMAL(28,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM cand cd
      JOIN codes ON codes.vec_id = cd.vec_id
      JOIN qd q ON q.query_id = cd.query_id
             AND q.qs = codes.s AND q.qcid = codes.code
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id AS neighbor_id, adc_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, vec_id) AS rn
      FROM est) WHERE rn <= 5
    """


@query("l83_kmeans_coarse_ivfpq", oracle=_l83_oracle())
def l83_kmeans_coarse_ivfpq(spark, sf_dir):
    """IVFADC with a CORPUS-SIZED k-means coarse quantizer (round 11 —
    building the K ∝ √N sizing rule the l81/k23 sf10 analysis records
    as the 100 TB knob, instead of leaving it prose): the label-based
    coarse quantizer every prior IVF key uses is pinned at the
    fixture's 10 cells, so pruning buys a fixed nprobe/K = 30% constant
    and per-query cost stays linear in the corpus. Here the coarse
    codebook is a seeded-Lloyd k-means with K=64 cells trained on the
    corpus itself (:func:`_coarse_kmeans_train` — the `_pq_train`
    discipline lifted to full 64-d vectors: 'cq:' digest seeding, two
    decimal-exact Lloyd rounds, ROUNDED-L2 struct-min membership so the
    64-element double sums rank identically in DuckDB), composed with
    the l55 PQ stage and the pruned ADC probe (nprobe=8).

    With K sized to the corpus, candidates per query are ~N·nprobe/K —
    the sub-linear serving the inverted file exists for; the operator
    is the REBUILD path (quantizer trained in-plan, like l55/l68/l71);
    persistence/maintenance of the k-means codebook rides the exact
    generation machinery l62→l70 already carries, unchanged, because
    only the codebook CONTENT differs.

    Full SQL oracle: every stage re-derived — coarse seeds, both Lloyd
    rounds with 64-element decimal means, final memberships, probe
    sets, the PQ training tower, codes, per-query ADC grids, pruned
    candidates, top-5. A drifted centroid mean, a ULP-unstable
    membership, or a candidate outside the probe set diverges the
    hash."""
    v, sub = _pq_corpus(spark, sf_dir)
    ccents = _coarse_kmeans_train(v)
    indexed = _coarse_kmeans_assign(v, ccents)
    probes = _coarse_kmeans_assign(
        v.filter(F.col("vec_id") % 100 == 0), ccents, nprobe=_CQ_NPROBE
    ).select(F.col("vec_id").alias("query_id"), "bucket")
    cents = _pq_train(v, sub)
    codes = _pq_assign(sub, cents)
    qsub = sub.filter(F.col("vec_id") % 100 == 0)
    return _pq_pruned_probe_topk(qsub, probes, indexed, cents, codes)


#: data-derived coarse-codebook size — the K ∝ √N sizing rule as SQL, over
#: whatever slice the oracle's vt CTE binds (train for l84, final for l85)
_K_SQRT_SQL = "(SELECT GREATEST(1, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM vt)"

_L84_ORACLE = _l83_oracle(
    train_pred=_OLD_SQL, corpus_pred=_FINAL_SQL, k_sql=_K_SQRT_SQL
)

# retrained world: BOTH quantizers re-derived from the final corpus
_L85_ORACLE = _l83_oracle(
    train_pred=_FINAL_SQL, corpus_pred=_FINAL_SQL, k_sql=_K_SQRT_SQL
)


def _sqrt_k(n: int) -> int:
    """The K ∝ √N coarse-codebook sizing rule (SCALING.md sf10 analysis;
    the FAISS nlist heuristic): per-query candidates ~N·nprobe/K stay
    ∝ √N when K = ⌈√N⌉. Mirrors ``_K_SQRT_SQL`` bit-for-bit (both sides
    take IEEE-double sqrt of an exact integer)."""
    import math

    return max(1, math.ceil(math.sqrt(n)))


def _kivfpq_build(spark, sf_dir, pred):
    """The k-means IVFPQ world over a corpus slice: the seeded-Lloyd
    coarse codebook at the data-derived K=⌈√N⌉ of the slice, the PQ
    codebooks, the slim inverted file and the code table."""
    v, sub = _pq_corpus(spark, sf_dir, pred)
    ccents = _coarse_kmeans_train(v, k=_sqrt_k(v.count()))
    cents = _pq_train(v, sub)
    return {
        "centroids": ccents,
        "codebooks": cents,
        "assignments": _coarse_kmeans_assign(v, ccents),
        "codes": _pq_assign(sub, cents),
    }


#: all FOUR tables are born under ONE history link, so a reader can never
#: observe a quantizer without the tables encoded against it; quantizers
#: are generations too (l85 retrains them), so the assigner reads their
#: heads, and the insert feed carries no norm
KIVFPQ = IndexFamily(
    quantizers=("centroids", "codebooks"),
    tables=("assignments", "codes"),
    schemas={
        "centroids": _CK_CENTS_SCHEMA,
        "codebooks": _PQ_CENTS_SCHEMA,
        "assignments": _SLIM_ASSIGN_SCHEMA,
        "codes": _PQ_CODES_SCHEMA,
        "delta_ins": _VEC_SCHEMA,
    },
    build=_kivfpq_build,
    assigner=lambda q: lambda ins: {
        "assignments": _coarse_kmeans_assign(ins, q["centroids"]),
        "codes": _pq_assign(_subvectors(ins), q["codebooks"]),
    },
    feed=lambda frame: frame.select("vec_id", "e"),
    born=True,
    births=(("centroids", "codebooks", "assignments", "codes"),),
)


def _serve_kivfpq(spark, sf_dir: str, idx: str):
    """Shared l84/l85/k27 serving path: all FOUR table heads resolved
    compaction-proof, then the pruned IVFADC probe entirely from persisted
    state: query vectors are the only corpus read; candidates are the
    query's nprobe coarse buckets via the persisted inverted file; ADC
    scores only those."""
    st = _read_heads(spark, KIVFPQ, idx)
    qvecs, qsub = _pq_corpus(
        spark, sf_dir, pred=(F.col("vec_id") % 100 == 0) & _final_slice()
    )
    probes = _coarse_kmeans_assign(qvecs, st["centroids"], nprobe=_CQ_NPROBE).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    return _pq_pruned_probe_topk(
        qsub, probes, st["assignments"], st["codebooks"], st["codes"]
    )


def _stage_l84_lifecycle(spark, sf_dir: str, d: str) -> None:
    """The l84 build and maintenance day: stage yesterday's world, then
    apply the CDC delta against the FIXED persisted quantizers and commit
    the (assignments, codes) pair atomically. The quantizer generations
    stay heads — retraining them is l85's transaction, on the slow
    cadence the staleness manifest drives."""
    _stage_index(KIVFPQ, spark, sf_dir, d)
    _checkpoint_feeds(KIVFPQ, spark, d, target_files=8)


def _l84_index(spark, sf_dir: str) -> str:
    """Resolve (building if absent) l84's persisted k-means-IVFPQ world —
    shared by the serving key and the staleness trigger (l86), which
    must read the SAME generations a prober would."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return ensure_index(
        scratch_path(f"dps_l84_kivfpq_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="kivfpq-v1",
        build=lambda d: _stage_l84_lifecycle(spark, sf_dir, d),
    )


@query("l84_kmeans_ivfpq_serving", oracle=_L84_ORACLE)
def l84_kmeans_ivfpq_serving(spark, sf_dir):
    """The corpus-sized k-means coarse quantizer COMPOSED into the
    persisted ANN serving lifecycle (round 12 — the r11 verdict's top
    item): l81/k23 prune through the fixture's fixed K=10 label
    quantizer, so their pruned probe costs a constant nprobe/K ≈ 30% of
    a full scan at every SF (787 s for the sf10 probe batch —
    SCALING.md). Here the serving world is built end-to-end on the
    K=⌈√N⌉ seeded-Lloyd quantizer l83 introduced:

    - **build**: both quantizers trained on yesterday's slice with the
      data-derived K; all four tables (coarse codebook, PQ codebooks,
      inverted file, codes) committed as ONE N=4-table transaction —
      the first key to exercise ``checkpoint_index_generations`` beyond
      pairs;
    - **maintain**: the CDC delta updates assignments+codes against the
      FIXED quantizers (map-side assignment/encode, broadcast anti-join
      deletes) and the pair commits atomically — l77/l81's algebra,
      unchanged, because only the codebook CONTENT differs;
    - **serve**: heads resolved via :func:`head_generations` (compaction-proof);
      the probe touches the query vectors, two broadcast-size
      quantizers, and ~N·nprobe/K candidate rows — per-query work ∝ √N
      when K tracks the corpus, the sub-linear serving economics the
      inverted file exists for.

    Composed from-scratch oracle (``_l83_oracle`` parameterized — the
    ``_l68_oracle`` discipline): coarse seeds + two 64-d decimal-exact
    Lloyd rounds over the TRAIN slice at the SQL-derived K=⌈√N_train⌉,
    PQ tower over the same slice, memberships/codes/queries over the
    FINAL corpus. A drifted centroid, a mis-sized K, a surviving
    tombstone in either table, or a torn 4-table commit diverges the
    hash.

    100 TB: K ∝ √N keeps the coarse codebook broadcast-size (√(10¹¹
    vectors) ≈ 316k rows ≈ 160 MB at 64-d float64 — the FAISS nlist
    regime) while per-query candidates stay ∝ √N; the quantizer pair
    retrains on the slow cadence (l85's transaction), the index pair
    tracks CDC daily."""
    return _serve_kivfpq(spark, sf_dir, _l84_index(spark, sf_dir))


def _stage_l85_state(spark, sf_dir: str, d: str) -> None:
    """l84's lifecycle, then the RETRAIN transaction: the whole world
    rebuilt over the FINAL corpus (K re-sized to ⌈√N_final⌉ — the sizing
    rule tracks growth) and all four tables committed under ONE history
    link superseding all four old heads. No observable manifest state
    mixes old and new quantizers (kill-point tested)."""
    _stage_l84_lifecycle(spark, sf_dir, d)
    frames = _kivfpq_build(spark, sf_dir, _final_slice())
    checkpoint_index_generations(
        d,
        [
            (frames["centroids"], ["centroids-g001"], "centroids-g002"),
            (frames["codebooks"], ["codebooks-g001"], "codebooks-g002"),
            (frames["assignments"], ["assignments-g002"], "assignments-g003"),
            (frames["codes"], ["codes-g002"], "codes-g003"),
        ],
        target_files=8,
    )


@query("l85_quantizer_retrain_txn", oracle=_L85_ORACLE)
def l85_quantizer_retrain_txn(spark, sf_dir):
    """Quantizer retrain as ONE 4-table transaction (exercising
    ``checkpoint_index_generations`` at N=4 across a RETRAIN boundary):
    after l84's CDC day drifts the
    corpus away from the slice the quantizers were trained on, the
    staleness cadence fires and the whole world re-derives — new coarse
    codebook (K re-sized to ⌈√N_final⌉), new PQ codebooks, corpus
    re-assigned and re-encoded — and all four tables commit under ONE
    history link. The transaction is the correctness boundary: an
    inverted file bucketed by the OLD coarse quantizer is meaningless
    under the NEW codebook, so any observable state mixing generations
    serves garbage; with one commit point, readers resolve either the
    complete pre-retrain world or the complete post-retrain one
    (kill-point pinned in tests).

    Oracle: the SAME parameterized composition as l84 with
    train = corpus = the final slice — i.e. the from-scratch rebuild of
    the retrained world. Serving any pre-retrain table (stale K, stale
    codebook, stale codes) diverges the hash.

    100 TB: retrains are the expensive, rare path (full corpus re-encode
    — embarrassingly parallel map-side work against broadcast
    codebooks); what makes them deployable is atomicity + time travel:
    the old world stays readable (retention) while the new one builds,
    and the swap is one manifest append."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l85_retrain_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="kivfpq-retrain-v1",
        build=lambda d: _stage_l85_state(spark, sf_dir, d),
    )
    return _serve_kivfpq(spark, sf_dir, idx)


def _l86_oracle() -> str:
    """DuckDB twin of the l86 staleness trigger: re-derives the coarse
    quantizer (the _l83_oracle Lloyd CTEs at the SQL-derived
    K=⌈√N_train⌉ over l84's train slice), assigns the FINAL corpus, and
    computes the trigger's every term from scratch — live/new counts,
    the K-sizing gap, per-cohort mean quantization distortion (decimal
    sums over the ROUND(6) memberships' distances, FLOOR-quantized), and
    the retrain verdict itself. A drifted centroid, a mis-sized K, or a
    mis-counted cohort flips a published number or the boolean."""
    d2c = (
        "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(vv.e, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    mean64 = ", ".join(
        f"CAST(SUM(CAST(vv.e[{i}] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)"
        for i in range(1, 65)
    )
    q6 = lambda x: f"FLOOR(({x}) * 1000000 + 0.5) / 1000000"  # noqa: E731
    dmean = (
        "CAST(SUM(CAST(d2 AS DECIMAL(28,12))) FILTER (WHERE is_new = {n})"
        " AS DOUBLE) / COUNT(*) FILTER (WHERE is_new = {n})"
    )
    return f"""
    WITH v AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vt AS (SELECT vec_id, e FROM v WHERE {_OLD_SQL}),
    vc AS (SELECT vec_id, e FROM v WHERE {_FINAL_SQL}),
    cseeds AS (
      SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid
      FROM (SELECT vec_id, e,
              ('0x' || substr(md5('cq:' || CAST(vec_id AS VARCHAR)), 1, 15))
                ::BIGINT AS h
            FROM vt)
      QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= {_K_SQRT_SQL}
    ),
    ccents0 AS (SELECT cid, e AS cv FROM cseeds),
    ca0 AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT vv.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY vv.vec_id
                 ORDER BY ROUND({d2c}, 6), c.cid) AS rn
        FROM vt vv CROSS JOIN ccents0 c
      ) WHERE rn = 1
    ),
    cm0 AS (
      SELECT ca0.bucket AS cid, [{mean64}] AS mv
      FROM ca0 JOIN vt vv USING (vec_id)
      GROUP BY ca0.bucket
    ),
    ccents1 AS (
      SELECT c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM ccents0 c LEFT JOIN cm0 m ON m.cid = c.cid
    ),
    ca1 AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT vv.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY vv.vec_id
                 ORDER BY ROUND({d2c}, 6), c.cid) AS rn
        FROM vt vv CROSS JOIN ccents1 c
      ) WHERE rn = 1
    ),
    cm1 AS (
      SELECT ca1.bucket AS cid, [{mean64}] AS mv
      FROM ca1 JOIN vt vv USING (vec_id)
      GROUP BY ca1.bucket
    ),
    ccents2 AS (
      SELECT c.cid, COALESCE(m.mv, c.cv) AS cv
      FROM ccents1 c LEFT JOIN cm1 m ON m.cid = c.cid
    ),
    scored AS (
      SELECT vec_id, CASE WHEN vec_id % 9 = 5 THEN 1 ELSE 0 END AS is_new,
             d2
      FROM (
        SELECT vv.vec_id, ROUND({d2c}, 6) AS d2,
               ROW_NUMBER() OVER (PARTITION BY vv.vec_id
                 ORDER BY ROUND({d2c}, 6), c.cid) AS rn
        FROM vc vv CROSS JOIN ccents2 c
      ) WHERE rn = 1
    ),
    terms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
             CAST(COUNT(*) FILTER (WHERE is_new = 1) AS BIGINT) AS n_new,
             (SELECT GREATEST(1, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))
              FROM vt) AS k_trained,
             GREATEST(1, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k_target,
             {q6(dmean.format(n=0))} AS mean_d2_train,
             {q6(dmean.format(n=1))} AS mean_d2_new
      FROM scored
    )
    SELECT n_live, n_new,
           {q6("CAST(n_new AS DOUBLE) / n_live")} AS drift_frac,
           k_trained, k_target,
           mean_d2_train, mean_d2_new,
           {q6("mean_d2_new / mean_d2_train")} AS distortion_ratio,
           (2 * k_target >= 3 * k_trained
            OR {q6("CAST(n_new AS DOUBLE) / n_live")} > 0.05
            OR COALESCE({q6("mean_d2_new / mean_d2_train")} > 1.25, FALSE))
             AS retrain_due
    FROM terms
    """


@query("l86_retrain_staleness", oracle=_l86_oracle())
def l86_retrain_staleness(spark, sf_dir):
    """The staleness manifest that drives l85's retrain cadence (build →
    maintain → serve → DECIDE WHEN TO RETRAIN). Reads l84's persisted
    world — the SAME generations a prober reads, heads resolved
    compaction-proof —
    and publishes the operational trigger a deployment schedules the
    4-table retrain transaction on:

    - **drift_frac**: share of live vectors inserted since the
      quantizers trained (the inverted file joined to the corpus — the
      CDC cohort the fixed codebooks never saw);
    - **K gap**: ``k_trained`` (the persisted codebook's ACTUAL row
      count — state, not formula) vs ``k_target`` = ⌈√N_live⌉ (the
      sizing rule at today's corpus);
    - **distortion**: mean quantization error (rounded L2 to the
      assigned centroid, decimal-summed) for the trained cohort vs the
      inserted cohort — the FAISS-style signal that the codebook no
      longer fits the data distribution;
    - **retrain_due**: 2·k_target ≥ 3·k_trained (integer form of the
      1.5× sizing gap) OR drift_frac > 5 % OR distortion ratio > 1.25
      (NULL-safe: an empty new cohort never triggers).

    Full SQL oracle re-derives every term from scratch — including the
    persisted codebook's row count, which must equal the SQL-derived
    K=⌈√N_train⌉ (a codebook that lost or duplicated a centroid row
    flips ``k_trained``).

    100 TB: one broadcast join (≤√N-row codebook) over the inverted
    file ⋈ corpus — a single map-side pass plus one global aggregate;
    cheap enough to ride every maintenance window, which is the point:
    the trigger is computed FROM the serving state, so the decision
    needs no side-channel bookkeeping."""
    st = _read_heads(spark, KIVFPQ, _l84_index(spark, sf_dir))
    ccents, assignments = st["centroids"], st["assignments"]
    # the persisted codebook's ACTUAL size — bounded (≤√N rows), the
    # fit-param exemption (SURVEY §7.7)
    k_trained = ccents.count()
    v, _ = _pq_corpus(spark, sf_dir)
    scored = (
        assignments.join(v, "vec_id")
        .join(F.broadcast(ccents), F.col("bucket") == F.col("cid"))
        .select(
            _ins_slice().cast("int").alias("is_new"),
            F.round(_l2sq("e", "cv"), 6).alias("d2"),
        )
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    dsum = lambda cond: F.sum(  # noqa: E731
        F.when(cond, F.col("d2")).cast("decimal(28,12)")
    ).cast("double")
    cnt = lambda cond: F.count(F.when(cond, F.lit(1)))  # noqa: E731
    new = F.col("is_new") == 1
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_live"),
        cnt(new).cast("bigint").alias("n_new"),
        # try_divide: zero-row input (and an empty cohort) divides by
        # zero -> NULL on both engines (DuckDB x/0 parity, sweep-safe)
        q6(F.try_divide(dsum(~new), cnt(~new))).alias("mean_d2_train"),
        q6(F.try_divide(dsum(new), cnt(new))).alias("mean_d2_new"),
    )
    drift = q6(F.try_divide(F.col("n_new").cast("double"), F.col("n_live")))
    ratio = q6(F.try_divide(F.col("mean_d2_new"), F.col("mean_d2_train")))
    k_target = F.greatest(
        F.lit(1).cast("bigint"),
        F.ceil(F.sqrt(F.col("n_live"))).cast("bigint"),
    )
    return agg.select(
        "n_live",
        "n_new",
        drift.alias("drift_frac"),
        F.lit(k_trained).cast("bigint").alias("k_trained"),
        k_target.alias("k_target"),
        "mean_d2_train",
        "mean_d2_new",
        ratio.alias("distortion_ratio"),
        (
            (2 * k_target >= 3 * F.lit(k_trained))
            | (drift > 0.05)
            | F.coalesce(ratio > 1.25, F.lit(False))
        ).alias("retrain_due"),
    )


_L82_ASOF_ORACLE = _l68_oracle(train_pred=_OLD_SQL, corpus_pred=_OLD_SQL)


@query("l82_pair_time_travel", oracle=_L82_ASOF_ORACLE)
def l82_pair_time_travel(spark, sf_dir):
    """Consistent two-table time travel (the as-of payoff of the atomic
    multi-table commit, extending l79/p21's VERSION-AS-OF to generation
    PAIRS): because k23/l81 land (assignments, codes) under ONE history
    link, an as-of reader resolves BOTH tables from that single link — a
    consistent snapshot by construction. Per-table resolution (one link
    per table) could legitimately pair
    yesterday's assignments with today's codes when the as-of timestamp
    falls between the two commits; with the paired link that torn read
    is unrepresentable.

    The build is l81's (pair g001 staged, the CDC-merged pair g002
    committed) with ``retain=2``, which keeps BOTH g001 tables on the
    retained list. Serving resolves the PREVIOUS paired link from the
    manifest and runs the pruned IVFADC probe against its two
    generations — yesterday's index answering yesterday's queries
    bitwise while the head serves today's (the offline-eval replay
    l79 motivates, now for multi-table indexes). Oracle: the composed
    from-scratch twin of the AS-OF state — quantizers and tables all
    over the old slice, no deletes applied — so a retained generation
    corrupted by the later commit, a swept pair member, or a mixed
    (old assignments, new codes) read diverges the hash.

    100 TB: N retained PAIRS cost index-sized bytes, swept by the same
    retention window; the single-link resolution is what an Iceberg
    multi-table transaction's snapshot gives you, here for index
    state."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    def _stage(d: str) -> None:
        # retain=2 keeps BOTH members of the superseded pair readable —
        # the time-travel target is the whole pair, not one table
        _stage_index(IVFPQ, spark, sf_dir, d)
        _checkpoint_feeds(IVFPQ, spark, d, retain=2, target_files=8)

    idx = ensure_index(
        scratch_path(f"dps_l82_pair_travel_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="pair-travel-v1",
        build=_stage,
    )
    man = _load_manifest(idx)
    pair_links = [h for h in man["history"] if len(_link_bys(h)) == 2]
    asof = pair_links[-2]  # the previous pair — ONE link names both tables
    st = _read_state(spark, IVFPQ, idx, ["centroids", "codebooks", *_link_bys(asof)])
    # yesterday's queries over yesterday's corpus (the as-of replay)
    return _serve_ivfpq(spark, sf_dir, st, _old_slice())


@query("l67_pq_index_delta", oracle=_L67_ORACLE)
def l67_pq_index_delta(spark, sf_dir):
    """Incremental PQ code maintenance (l65's delta algebra on the l63
    persisted index — the remaining half of the ANN maintenance story):
    the persisted code table is updated from a CDC embedding delta —
    inserts (``%9==5``) encoded by one map-side :func:`_pq_assign` of the
    DELTA subvectors against the loaded (fixed) codebooks, deletes
    (``%11==3``) removed by one broadcast anti-join — and the ADC probe
    runs over the delta-maintained codes. The codebooks stay trained on
    yesterday's corpus (the slow-cadence retrain contract; a retrain is
    the l63 rebuild via the staleness manifest), exactly the regime the
    oracle re-derives from scratch: seeds + Lloyd over the OLD slice,
    codes + queries over the FINAL corpus — so a code surviving its
    tombstone, an insert quantized against the wrong codebook generation,
    or a missed append diverges the hash.

    100 TB: the code table is the RAM-resident corpus representation
    (4 B/vector/subspace); maintaining it by delta keeps the daily cost
    at O(|delta|·M) quantizations + one anti-join, against the full
    corpus re-encode every rebuild implies — the same O(delta)-vs-
    O(corpus) argument as l65, at 64× the bytes saved."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l67_pq_delta_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="pq-delta-v1",
        build=lambda d: _stage_index(PQ, spark, sf_dir, d),
    )
    return _serve_pq(spark, sf_dir, _merged_feeds(PQ, spark, idx))


@query("l72_pq_index_checkpoint", oracle=_L67_ORACLE)
def l72_pq_index_checkpoint(spark, sf_dir):
    """PQ code-table write-back (l70's protocol on the l67 state): the
    delta-maintained code table is checkpointed as a fresh
    index generation via :func:`checkpoint_index_generation` (compact →
    atomic swap → vacuum manifest → delete superseded), so ADC probes
    stop re-paying the anti-join + union merge and the CDC feeds stop
    accumulating. Staging is exactly l67's: codebooks trained on the
    ``%9!=5`` slice, codes for that slice, insert feed = the held-out
    slice's subvectors, tombstones = ``%11==3``. The maintenance pass
    (broadcast anti-join deletes + map-side delta encoding against the
    FIXED codebooks) runs once inside the build, and its output is
    rewritten as ``codes-g002`` with the old codes table and both feeds
    vacuumed.

    The returned probe reads the compacted generation + the persisted
    codebooks + the query slice of the corpus only: no anti-join, no
    union, no Lloyd stage (test-pinned with the vacuum layout), and the
    oracle — l67's parameterized from-scratch twin (train on yesterday,
    encode today) — must agree pair-for-pair.

    100 TB: the code table is the RAM-resident corpus (4 B/vector/
    subspace); checkpointing converts l67's per-probe O(|delta|) merge
    into one O(index IO) rewrite per maintenance window — the economics
    that keep a trillion-vector PQ index serving while it churns."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    def _stage(d: str) -> None:
        # l67's staging, then its merge over the persisted state only,
        # written back (compact → swap → manifest → vacuum)
        _stage_index(PQ, spark, sf_dir, d)
        _checkpoint_feeds(PQ, spark, d)

    idx = ensure_index(
        scratch_path(f"dps_l72_pq_ckpt_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="pq-ckpt-v1",
        build=_stage,
    )
    return _serve_pq(spark, sf_dir, _read_heads(spark, PQ, idx))


@query(
    "l57_embedding_project",
    oracle="""
    WITH basis AS (
      SELECT j, LIST_TRANSFORM(range(64),
                               i -> CAST(((i * 37 + j * 101) % 17 - 8)
                                         AS DOUBLE) / 8.0) AS bv
      FROM (SELECT UNNEST(range(4)) AS j)
    ),
    v AS (
      SELECT vec_id, label,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    proj AS (
      SELECT v.label, b.j,
             LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.e, b.bv),
                                     p -> p[1] * p[2])) AS c
      FROM v CROSS JOIN basis b
    )
    SELECT label, CAST(j AS INTEGER) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           FLOOR(CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                 * 1000000 + 0.5) / 1000000 AS mean_proj,
           FLOOR(MAX(c) * 1000000 + 0.5) / 1000000 AS max_proj
    FROM proj GROUP BY label, j
    """,
)
def l57_embedding_project(spark, sf_dir):
    """Distributed matrix product — Dask ``DataFrame.dot`` re-expressed
    Spark-first: project every 64-d embedding onto a 4-vector deterministic
    basis (entries ((i·37+j·101) mod 17 − 8)/8, generated by the same
    integer arithmetic in both engines), then roll the projected
    components up per label. This is the tall-×-small matmul every
    embedding pipeline runs (PCA/whitening transforms, SemDeDup's
    dimensionality cut before l49's centroid pass, linear probes): the
    tall side stays distributed, the small matrix is a broadcast constant,
    each dot product is a codegen ``zip_with``+``aggregate`` with NO
    Python, and per-row element order makes the double sums IEEE-identical
    cross-engine (decimal sums for the per-label mean).

    100 TB: row-local map (zero shuffle) + one bounded label rollup; a
    wide-×-wide matmul instead decomposes into block outer products
    (shuffle by block id), which l8's embedding-mean machinery already
    sketches — not needed for the projection shapes training pipelines
    use."""
    basis = [
        [((i * 37 + j * 101) % 17 - 8) / 8.0 for i in range(64)]
        for j in range(4)
    ]
    e = fanout(load(spark, sf_dir, "embeddings"))
    v = e.select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    comps = v.select(
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("component"),
                        F.aggregate(
                            F.zip_with(
                                "e",
                                F.array(*[F.lit(x) for x in basis[j]]),
                                lambda a, b: a * b,
                            ),
                            F.lit(0.0),
                            lambda acc, t: acc + t,
                        ).alias("c"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("p"),
    ).select("label", "p.component", "p.c")
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return comps.groupBy("label", "component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        q6(
            F.sum(F.col("c").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_proj"),
        q6(F.max("c")).alias("max_proj"),
    )
