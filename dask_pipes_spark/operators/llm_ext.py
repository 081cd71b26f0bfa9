"""Training-data-pipeline extensions beyond SURVEY §2-L (round-1 mandate):
SimHash near-dup, exact n-gram Jaccard, embedding-cosine near-dup, IVF ANN,
language-ID, quality scoring, BPE-ish token counting, winnowing fingerprints.

Published grounding: SimHash — Charikar 2002 ("Similarity estimation
techniques from rounding algorithms"); winnowing fingerprints — Schleimer/
Wilkerson/Aiken 2003 ("Winnowing: Local Algorithms for Document
Fingerprinting"); IVF — Jégou et al. 2011 (inverted-file ANN).

Scale notes (100 TB):
- SimHash and fingerprints are per-row HOF expressions — zero shuffle.
- n-gram Jaccard runs only on *candidate pairs* (bounded by blocking/LSH);
  the relational intersection-count form shuffles by shingle, never by pair.
- IVF assigns vectors to coarse buckets once (broadcast centroids), then
  top-k probes only nprobe buckets — the crossJoin volume drops by
  n_buckets/nprobe; recall depends on data clusteredness (the fixture
  vectors are near-isotropic, so nprobe must be large — measured in tests).
- Language-ID/quality/token-count are pure codegen expressions.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_pipes_spark.operators.ann_lifecycle import (
    _CENT_SCHEMA,
    _EMBED_SCHEMA,
    _FINAL_SQL,
    _IVF_ASSIGN_SCHEMA,
    _KEYS_SCHEMA,
    _LSH_BUCKET_SCHEMA,
    IndexFamily,
    _build_index,
    _checkpoint_feeds,
    _embedding_frame,
    _merged_feeds,
    _read_heads,
    _read_state,
    _stage_index,
)
from dask_pipes_spark.registry import query
from dask_pipes_spark.session import (
    checkpoint_index_generation,
    collect_local,
    ensure_index,
    fanout,
    load,
    pin_scratch,
    scratch_path,
)

# --- SimHash -----------------------------------------------------------------


def simhash_expr(tokens_col: str = "split(text, ' ')") -> str:
    """60-bit SimHash as a single SQL expression (Charikar 2002): each token
    hash votes ±1 per bit; the signature takes the sign of each bit sum.
    The token hash is the PORTABLE md5-60bit digest (l16/l2 discipline), so
    the signature — and therefore l9's candidate set — is reproducible in
    DuckDB and l9 carries a full SQL oracle. SimHash width is a free
    parameter; 60 bits keeps the same near-dup behavior as 64."""
    h = "CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)"
    return f"""
    aggregate(
      transform(sequence(0, 59),
        i -> aggregate({tokens_col}, 0L,
               (acc, t) -> acc + CASE WHEN (({h} >> i) & 1L) = 1L
                                      THEN 1L ELSE -1L END)),
      0L,
      (sig, bitsum) -> (sig << 1) | CASE WHEN bitsum > 0 THEN 1L ELSE 0L END)
    """


_L9_ORACLE = """
    WITH sigs AS (
      SELECT doc_id, source,
        list_reduce(
          list_transform(range(0, 60), i ->
            CASE WHEN list_sum(list_transform(string_split(text, ' '),
                   t -> CASE WHEN (CAST(('0x' || substr(md5(t), 1, 15))
                                        AS BIGINT) >> i) & 1 = 1
                        THEN 1 ELSE -1 END)) > 0
                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
          (sig, bit) -> sig * 2 + bit) AS simhash
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("l9_simhash", oracle=_L9_ORACLE)
def l9_simhash(spark, sf_dir):
    """Per-document 60-bit SimHash signature + near-dup pairs at Hamming
    distance ≤ 3 among same-source docs. Signatures are one HOF expression
    per row (no shuffle); the pair scan blocks on source to stay bounded.
    Hamming closeness of planted near-dups is asserted in tests/test_llm_ext.py."""
    d = fanout(load(spark, sf_dir, "documents"))
    sigs = d.selectExpr(
        "doc_id", "source", f"{simhash_expr()} AS simhash"
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn(
            "hamming", F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        )
        .filter(F.col("hamming") <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
        .orderBy("doc_a", "doc_b")
    )


# --- exact n-gram Jaccard ----------------------------------------------------


@query(
    "l10_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok,
             GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS ord
      FROM documents WHERE doc_id < 500
    ),
    sh AS (
      SELECT DISTINCT t1.doc_id,
             t1.tok || ' ' || t2.tok || ' ' || t3.tok AS shingle
      FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.ord = t1.ord + 1
                   JOIN toks t3 ON t1.doc_id = t3.doc_id AND t3.ord = t1.ord + 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id
               JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) > 0.05
    """,
)
def l10_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard similarity for a bounded doc set (doc_id < 500)
    in relational form: intersection counts come from a shuffle keyed by
    *shingle* (never materializing the pair matrix), |A∪B| = |A|+|B|−|A∩B|.
    This is the exact-verification stage that LSH candidates (l2) feed at
    scale — full SQL oracle, integer arithmetic throughout."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, greatest(size(split(text, ' ')) - 3, 0)),"
                    " i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))"
                )
            )
        ).alias("shingle"),
    ).filter(F.size(F.split("shingle", " ")) == 3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac > 0.05)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --- embedding near-dup + IVF ANN -------------------------------------------


@query(
    "l11_embedding_neardup",
    oracle="""
    WITH v AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, SQRT(LIST_SUM(LIST_TRANSFORM(e, x -> x * x))) AS nrm FROM v)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.e, b.e), p -> p[1] * p[2]))
                 / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.e, b.e), p -> p[1] * p[2]))
                / (a.nrm * b.nrm), 6) >= 0.35
    """,
)
def l11_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.35 — the fixture
    vectors are near-isotropic, max pairwise ≈ 0.5). Exact all-pairs here;
    at scale the same predicate runs on LSH/IVF candidate pairs only."""
    e = fanout(load(spark, sf_dir, "embeddings"))
    return cosine_pairs(e, threshold=0.35)


def cosine_pairs(vectors: "DataFrame", threshold: float) -> "DataFrame":
    """All-pairs cosine similarity ≥ threshold over (vec_id, embedding) —
    shared by l11 and the p4 semantic-dedup pipeline. Exact quadratic
    baseline; the scale path substitutes LSH/IVF candidates upstream."""
    dbl = vectors.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    n = dbl.withColumn(
        "nrm", F.sqrt(F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x))
    )
    a, b = n.alias("a"), n.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6)
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


@lru_cache(maxsize=32)
def _ivf_ranked_expr(cent_key: tuple):
    """The (sim desc, bucket asc)-sorted literal-codebook scoring
    expression behind :func:`ivf_assign`, memoized per codebook (round
    13): building this tree — one ArrayType literal per centroid plus
    the HOF lambdas — is ~0.4 s of pure driver-side py4j/analysis work
    (the cost the bench discloses as ``ann_fresh_plan_ms``), and the
    streaming-IVM loops re-built it EVERY micro-batch for a codebook
    that never changes mid-stream. Columns are immutable expression
    trees over literals and by-name references (``e``/``nrm``), so one
    tree serves every plan — the prepared-statement discipline the bench
    probe already applies, moved into the operator. ``cent_key`` is the
    hashable rendering of the codebook rows; the cache is expression-
    only (never data, never results) and bounded.

    Each centroid vector is ONE ArrayType Literal node (round 8):
    F.lit(list) creates a single typed literal, vs the previous
    per-element F.lit(...) which built a 64-node CreateArray per
    centroid — one py4j round-trip AND one analysis-tree node per
    element (~640 of each for 10×64, measured ~700 ms of pure
    driver-side plan build + analysis per probe). The value is
    bit-identical; only the expression-tree shape shrinks."""
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(bucket).alias("bucket"),
                F.lit(list(ce)).alias("ce"),
                F.lit(cnrm).alias("cnrm"),
            )
            for bucket, ce, cnrm in cent_key
        ]
    )
    scored = F.transform(
        cent_lit,
        lambda c: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(F.col("e"), c["ce"], lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / (F.col("nrm") * c["cnrm"]),
                6,
            ).alias("sim"),
            c["bucket"].alias("bucket"),
        ),
    )
    # sort by (sim desc, bucket asc) — same ordering the window used
    return F.array_sort(
        scored,
        lambda x, y: F.when(x["sim"] > y["sim"], -1)
        .when(x["sim"] < y["sim"], 1)
        .when(x["bucket"] < y["bucket"], -1)
        .when(x["bucket"] > y["bucket"], 1)
        .otherwise(0),
    )


def ivf_assign(
    vectors: DataFrame, cent_rows: list, nprobe: int = 1,
    with_rank: bool = False,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest coarse centroids,
    entirely MAP-SIDE: the centroid table arrives as collected driver rows
    (bounded by the codebook size — IVF coarse quantizers are, by design,
    small enough to train and ship to every node) and is inlined as a
    literal array-of-structs, so per-vector scoring + top-nprobe selection
    is one codegen'd expression with ZERO exchange — no crossJoin, no
    per-vector window. Returns (vec_id, e, nrm, bucket), plus a 1-based
    ``rank`` column (the bucket's probe position) when ``with_rank``
    (l69's sensitivity sweep needs the position, not just membership).

    The prior shape (broadcast-join + row_number window) cost one shuffle
    per assignment pass; at 100 TB that was 2 corpus-wide exchanges this
    version simply does not have."""
    if not cent_rows:
        # empty corpus → empty codebook: a zero-element F.array() is
        # VOID-typed and breaks the lambda analysis; the assignment of
        # nothing to nothing is the empty frame (empty-input sweep contract)
        empty = vectors.withColumn("bucket", F.lit(None).cast("int")).limit(0)
        return empty.withColumn("rank", F.lit(None).cast("int")) if with_rank else empty
    ranked = _ivf_ranked_expr(
        tuple(
            (int(r["bucket"]), tuple(float(v) for v in r["ce"]), float(r["cnrm"]))
            for r in cent_rows
        )
    )
    if with_rank:
        return (
            vectors.select(
                "vec_id", "e", "nrm",
                F.posexplode(
                    F.transform(F.slice(ranked, 1, nprobe), lambda s: s["bucket"])
                ).alias("pos", "bucket"),
            )
            .select("vec_id", "e", "nrm", "bucket", (F.col("pos") + 1).alias("rank"))
        )
    return (
        vectors.withColumn(
            "bucket",
            F.explode(
                F.transform(F.slice(ranked, 1, nprobe), lambda s: s["bucket"])
            ),
        )
        .select("vec_id", "e", "nrm", "bucket")
    )


_L12_ORACLE = """
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
      FROM v, LATERAL (SELECT UNNEST(range(1, len(e) + 1)) AS i) t
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
    scored AS (
      SELECT n.vec_id, n.e, n.nrm, c.bucket,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(n.e, c.ce),
                            p -> p[1] * p[2])) / (n.nrm * c.cnrm), 6) AS sim
      FROM n CROSS JOIN cn c
    ),
    indexed AS (
      SELECT vec_id, e, nrm, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM scored) WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id, e AS qe, nrm AS qn, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM scored WHERE vec_id % 20 = 0) WHERE rn <= 3
    ),
    pairs AS (
      SELECT q.query_id, i.vec_id AS neighbor_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qe, i.e),
                            p -> p[1] * p[2])) / (q.qn * i.nrm), 6) AS cos_sim
      FROM indexed i JOIN queries q USING (bucket)
      WHERE i.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 5
    """


def _ivf_corpus_and_centroids(spark, sf_dir, pred=None):
    """Shared IVF build (l12 rebuild path == l62 persist path, by
    construction): returns ``(vecs, cent)`` where ``vecs`` is the corpus as
    (vec_id, e: array<double>, nrm) and ``cent`` the coarse codebook as
    (bucket, ce, cnrm). Decimal-summed centroid means keep the codebook
    bit-deterministic across partitionings — the property that lets both
    the DuckDB oracle and the parquet-persisted index agree exactly.
    ``pred`` restricts the corpus slice."""
    n = _embedding_frame(spark, sf_dir, pred, "label")
    # coarse quantizer: per-label centroids, normalized. The element means
    # use exact DECIMAL sums (d6 discipline): order-insensitive partial
    # aggregation → a bit-deterministic codebook, which is what lets this
    # key carry a full DuckDB oracle (F.avg would make the centroid — and
    # thus bucket assignment — ULP-unstable across runs).
    cent = (
        n.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("cv")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select(
            F.col("label").alias("bucket"),
            F.expr("transform(pairs, p -> p.cv)").alias("ce"),
        )
        .withColumn(
            "cnrm", F.sqrt(F.aggregate("ce", F.lit(0.0), lambda acc, x: acc + x * x))
        )
    )
    return n.select("vec_id", "e", "nrm"), cent


def _ivf_probe_topk(vecs, indexed, cent_rows):
    """Shared IVF probe (l12 == l62): queries = every 20th corpus vector
    assigned to its nprobe=3 nearest buckets; candidates = bucket-join
    against the nprobe=1 indexed corpus; exact cosine re-rank to top-5."""
    queries = ivf_assign(
        vecs.filter(F.col("vec_id") % 20 == 0), cent_rows, nprobe=3
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        "bucket",
    )
    dot = F.aggregate(
        F.zip_with("qe", "e", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    # broadcast the probe side: the query set is a small fraction of the
    # corpus (at 100 TB it is the user's query batch), so the bucket join
    # needs no shuffle of the indexed corpus at all. Each (query, neighbor)
    # pair is unique by construction — nprobe=1 indexing puts every corpus
    # vector in exactly one bucket — so no dedup pass is needed.
    pairs = (
        indexed.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@query("l12_ivf_topk", oracle=_L12_ORACLE)
def l12_ivf_topk(spark, sf_dir):
    """IVF-style approximate top-k (Jégou et al. 2011): coarse centroids =
    per-label mean vectors (the l8 computation), every vector indexed into
    its nearest bucket, queries probe their nprobe=3 nearest buckets only —
    the crossJoin shrinks by ~bucket_count/nprobe. FULL SQL oracle since
    round 3: decimal-summed centroid means make the codebook (and thus
    every bucket assignment, probe set, and ranked similarity, all already
    round(6)-quantized with total-order tie-breaks) bit-reproducible, so
    the DuckDB twin re-runs the ENTIRE index build + probe + re-rank and
    must agree pair-for-pair. Absolute recall vs brute force stays
    asserted in tests (low on isotropic fixtures, by construction)."""
    vecs, cent = _ivf_corpus_and_centroids(spark, sf_dir)
    # codebook collect: bounded by label cardinality × dim (a coarse
    # quantizer is small by design — this is the "train once, ship to every
    # node" step, not a data-scale collect)
    cent_rows = cent.collect()
    indexed = ivf_assign(vecs, cent_rows, nprobe=1)
    return _ivf_probe_topk(vecs, indexed, cent_rows)


def _ivf_build(spark, sf_dir, pred):
    """The IVF index over a corpus slice: ``centroids`` (bucket, ce, cnrm —
    the coarse codebook, label-cardinality rows, one bounded collect) and
    ``assignments`` (vec_id, e, nrm, bucket — every vector in its nprobe=1
    bucket). Both round-trip doubles exactly, so a persisted index
    reproduces the rebuild path bit-for-bit."""
    vecs, cent = _ivf_corpus_and_centroids(spark, sf_dir, pred)
    cent = collect_local(cent)
    assignments = ivf_assign(vecs, cent.collect(), nprobe=1)
    return {"centroids": cent, "assignments": assignments}


def _ivf_assigner(q):
    """Map-side assignment against the fixed codebook, collected once."""
    cent_rows = q["centroids"].collect()
    return lambda ins: {"assignments": ivf_assign(ins, cent_rows, nprobe=1)}


IVF = IndexFamily(
    quantizers=("centroids",),
    tables=("assignments",),
    schemas={
        "centroids": _CENT_SCHEMA,
        "assignments": _IVF_ASSIGN_SCHEMA,
        "delta_ins": _EMBED_SCHEMA,
    },
    build=_ivf_build,
    assigner=_ivf_assigner,
)


def _serve_ivf(st):
    """The l12 probe over persisted IVF state: queries and candidates both
    come from the assignments table, the codebook from ``centroids``."""
    indexed = st["assignments"]
    return _ivf_probe_topk(
        indexed.select("vec_id", "e", "nrm"), indexed, st["centroids"].collect()
    )


@query("l62_ann_index_persist", oracle=_L12_ORACLE)
def l62_ann_index_persist(spark, sf_dir):
    """ANN index persistence + reuse: build-once → load → probe.

    Every prior ANN key rebuilds its index per query; at 100 TB the index
    BUILD is the expensive artifact (a full corpus pass + training) and
    the probe is the cheap, repeated operation — reuse is the entire point
    of IVF (Jégou et al. 2011's inverted file is an on-disk structure).
    This key persists the l12 coarse codebook + bucket assignments to
    parquet (the :data:`IVF` family's full build) under an :func:`ensure_index`
    manifest, then answers the SAME probe spec (queries = every 20th
    vector, nprobe=3, cosine top-5) purely from the persisted tables —
    the returned plan contains NO centroid training (no posexplode /
    decimal-mean aggregation; test-pinned), only two parquet scans, a
    map-side literal-codebook assignment, and the bucket join.

    Staleness/refresh: the manifest records an md5 over the source file
    listing (size + mtime_ns) plus an index-format version; any source
    change or format bump triggers a full rebuild — coarse codebooks are
    tiny relative to the corpus, so rebuild-on-change is the right trade,
    while incremental maintenance of assignments under CDC belongs to the
    p5/g15 merge machinery. On a cluster the fingerprint becomes the
    Iceberg/Delta snapshot id; the protocol is unchanged.

    100 TB: the index build runs once per corpus version on the whole
    cluster; probes read the (bucketed, columnar) assignments table and a
    broadcast codebook — no training stage on the query path, which is the
    difference between O(corpus) per query and O(corpus) per corpus
    version. Full SQL oracle: same as l12 — the persisted path must equal
    the rebuild path pair-for-pair."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l62_ivf_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="ivf-v1",
        build=lambda d: _build_index(IVF, spark, sf_dir, d),
    )
    # schema-explicit read-back (a3 idiom): empty builds leave nothing to
    # infer; bucket carries the label's int type
    return _serve_ivf(_read_state(spark, IVF, idx, ["centroids", "assignments"]))


_L69_ORACLE = """
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
      FROM v, LATERAL (SELECT UNNEST(range(1, len(e) + 1)) AS i) t
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
        FROM bscored) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, bucket, rn AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM bscored WHERE vec_id % 100 = 0) WHERE rn <= 5
    ),
    cand AS (
      SELECT q.query_id, i.vec_id, q.rank
      FROM probes q JOIN indexed i USING (bucket)
      WHERE i.vec_id <> q.query_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.e, c.e),
                       p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) DESC,
                 c.vec_id) AS rn
        FROM n q JOIN n c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 100 = 0
      ) WHERE rn <= 5
    ),
    tagged AS (
      SELECT c.rank,
             CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM cand c LEFT JOIN truth t
        ON t.query_id = c.query_id AND t.neighbor_id = c.vec_id
    ),
    tot AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT ks.k AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(hit) AS DOUBLE) / MAX(tot.n_truth), 6)
             AS recall_at_5
    FROM tagged
    JOIN (SELECT UNNEST(range(1, 6)) AS k) ks ON tagged.rank <= ks.k
    CROSS JOIN tot
    GROUP BY ks.k
    """


@query("l69_nprobe_sensitivity", oracle=_L69_ORACLE)
def l69_nprobe_sensitivity(spark, sf_dir):
    """IVF nprobe sensitivity table (the l61 cap-sensitivity pattern
    applied to the ANN tier's operational knob): for each candidate
    nprobe in {1..5}, the candidate volume the probe would generate and
    the recall@5 of the TRUE cosine top-5 within it — the sizing loop an
    operator runs before picking nprobe for a new corpus. One ranked
    probe assignment (nprobe=5, rank kept) serves every row: a bucket at
    probe rank r is counted for all k ≥ r, so the table costs one
    assignment + one brute-force truth pass, not five probes.

    Recall here is against the exact cosine ranking (the l3 ground
    truth), so the table directly answers "what does dropping a probe
    cost in neighbors"; candidate volume answers "what does adding one
    cost in work" — together they are the recall/efficiency trade the
    IVFADC docs (l68) defer to. Truth is bounded to the every-100th
    query set, the same bound the ADC keys use.

    100 TB: runs on a sample (queries are already a fixed batch; the
    brute-force truth needs only that batch × corpus, the same cost as
    one l3 evaluation) and the output is 5 rows — the cheap pre-flight
    before committing a trillion-vector index to a bucket count/nprobe.
    The 1-row truth-total broadcast is a declared bounded cross join."""
    vecs, cent = _ivf_corpus_and_centroids(spark, sf_dir)
    cent_rows = cent.collect()
    indexed = ivf_assign(vecs, cent_rows, nprobe=1).select("vec_id", "bucket")
    probes = ivf_assign(
        vecs.filter(F.col("vec_id") % 100 == 0), cent_rows, nprobe=5,
        with_rank=True,
    ).select(F.col("vec_id").alias("query_id"), "bucket", "rank")
    cand = (
        indexed.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "rank")
    )
    q = vecs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with("qe", "e", lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    truth = (
        vecs.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    c_al, t_al = cand.alias("c"), truth.alias("t")
    tagged = c_al.join(
        F.broadcast(t_al),
        (F.col("c.query_id") == F.col("t.query_id"))
        & (F.col("c.vec_id") == F.col("t.neighbor_id")),
        "left",
    ).select(
        F.col("c.query_id"),
        F.col("c.vec_id"),
        F.col("c.rank"),
        F.coalesce(F.col("t.hit"), F.lit(0)).alias("hit"),
    )
    tot = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        tagged.withColumn("k", F.explode(F.sequence("rank", F.lit(5))))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum("hit").alias("n_hits"),
            F.round(
                F.sum("hit").cast("double") / F.max("n_truth"), 6
            ).alias("recall_at_5"),
        )
        .select(
            F.col("k").alias("nprobe"), "n_candidates", "n_hits",
            "recall_at_5",
        )
    )


# --- language-ID -------------------------------------------------------------


@query(
    "l13_language_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    lang_tok AS (
      SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ),
    lang_tot AS (SELECT lang, SUM(c) AS tot FROM lang_tok GROUP BY 1),
    logp AS (
      SELECT lt.lang, lt.tok,
             ROUND(LN((lt.c + 1.0) / (t.tot + 31.0)), 6) AS lp
      FROM lang_tok lt JOIN lang_tot t ON lt.lang = t.lang
    ),
    scored AS (
      SELECT d.doc_id, d.lang AS true_lang, p.lang AS cand,
             ROUND(SUM(p.lp), 4) AS score
      FROM toks d JOIN logp p ON d.tok = p.tok
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, true_lang, cand AS pred_lang FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, cand) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def l13_language_id(spark, sf_dir):
    """Unigram naive-Bayes language-ID, fitted on the corpus itself: per-lang
    Laplace-smoothed token log-probs (the 31-token vocabulary is shared
    across the fixture languages; only frequencies differ), each doc scored
    per language, argmax with deterministic (score desc, lang asc) tiebreak.
    Fully SQL-oracled — scores are rounded before the argmax so libm ulp
    noise cannot flip it. Accuracy asserted in tests/test_llm_ext.py."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    lang_tok = (
        toks.groupBy(F.col("true_lang").alias("lang"), "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lang_tot = lang_tok.groupBy("lang").agg(F.sum("c").alias("tot"))
    logp = (
        lang_tok.join(lang_tot, "lang")
        .select(
            "lang",
            "tok",
            F.round(F.log((F.col("c") + 1.0) / (F.col("tot") + 31.0)), 6).alias("lp"),
        )
    )
    scored = (
        toks.join(F.broadcast(logp.withColumnRenamed("lang", "cand")), "tok")
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.round(F.sum("lp"), 4).alias("score"))
    )
    return scored.groupBy("doc_id", "true_lang").agg(
        F.min_by("cand", F.struct(-F.col("score"), F.col("cand"))).alias("pred_lang")
    )


# --- quality scoring / token counting / fingerprints -------------------------


@query(
    "l14_quality_score",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(n_chars AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')) AS atl,
             CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
               / LEN(STRING_SPLIT(text, ' ')) AS ttr_raw,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                  t -> t IN ('a', 'the'))) AS DOUBLE)
               / LEN(STRING_SPLIT(text, ' ')) AS stop_raw,
             LEAST(CAST(n_chars AS DOUBLE) / 200.0, 1.0) AS len_norm
      FROM documents
    )
    -- FLOOR quantizer (section 7.6.2): round()-family calls disagree across
    -- engines on the exact 1e-6 midpoints these power-of-two-denominator
    -- ratios produce; FLOOR(x*1e6+0.5) on identical doubles cannot
    SELECT doc_id, n_tokens,
           FLOOR(atl * 1000000 + 0.5) / 1000000 AS avg_token_len,
           FLOOR(ttr_raw * 1000000 + 0.5) / 1000000 AS ttr,
           FLOOR(stop_raw * 1000000 + 0.5) / 1000000 AS stopword_ratio,
           FLOOR((len_norm * 0.4 + (1.0 - stop_raw) * 0.3 + ttr_raw * 0.3)
                 * 1000000 + 0.5) / 1000000 AS quality
    FROM raw
    """,
)
def l14_quality_score(spark, sf_dir):
    """Heuristic document quality: length saturation, stopword ratio,
    type-token ratio, combined with fixed weights (Gopher/C4-style rule
    scoring) — all codegen expressions, rounded(6) at each float step so the
    composite matches the oracle bitwise."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    # raw (unrounded) components feed the composite — identical formula to
    # the oracle; rounding happens exactly once per output column (HALF_UP on
    # both engines: F.round for doubles here, DECIMAL ROUND there)
    stop_raw = F.size(F.filter(toks, lambda t: t.isin("a", "the"))).cast("double") / n_tok
    ttr_raw = F.size(F.array_distinct(toks)).cast("double") / n_tok
    len_norm = F.least(F.col("n_chars").cast("double") / 200.0, F.lit(1.0))
    # FLOOR quantizer, not round(): power-of-two-denominator ratios land
    # exactly on 1e-6 midpoints, where Spark's double round and DuckDB's
    # decimal ROUND disagree (first observed at sf0.1: 8/5000 docs) —
    # FLOOR(x*1e6+0.5) on identical doubles is identical everywhere (§7.6.2)
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        q6(F.col("n_chars").cast("double") / n_tok).alias("avg_token_len"),
        q6(ttr_raw).alias("ttr"),
        q6(stop_raw).alias("stopword_ratio"),
        q6(len_norm * 0.4 + (1.0 - stop_raw) * 0.3 + ttr_raw * 0.3).alias(
            "quality"
        ),
    )


@query(
    "l15_token_count",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
             AS bpe_ish_tokens,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS chars_per_4
    FROM documents
    """,
)
def l15_token_count(spark, sf_dir):
    """Token counting three ways: whitespace split, a BPE-ish regex
    segmentation (letter runs / digit runs / other), and the chars/4
    rule-of-thumb — the cost-estimation primitives of a training pipeline."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("chars_per_4"),
    )


@query(
    "l16_doc_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, GREATEST(len(string_split(text, ' ')) - 6, 0) + 1),
               w -> list_min(list_transform(
                 range(w, w + 4),
                 i -> CAST(('0x' || substr(
                        md5(array_to_string(
                          string_split(text, ' ')[i + 1 : i + 3], ' ')),
                        1, 15)) AS BIGINT)))
             )) AS fps
      FROM documents
    )
    SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fingerprints,
           list_min(fps) AS min_fp, list_max(fps) AS max_fp
    FROM fp
    """,
)
def l16_doc_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. 2003): hash every 3-gram
    shingle, slide a window of 4 hashes, keep each window's minimum — a
    position-robust fingerprint set. One HOF expression per row, no shuffle;
    overlap between near-duplicates is asserted in tests/test_llm_ext.py.

    Promoted to a full SQL oracle in round 2 by switching the shingle hash
    from engine-specific ``xxhash64`` to a PORTABLE 60-bit digest — the
    first 15 hex chars of md5, identical in Spark (``conv(..., 16, 10)``)
    and DuckDB (``'0x' || ...`` cast) — so the whole winnowing pipeline
    (shingling, window minima, distinct) is value-verified cross-engine.
    The hash family is winnowing-agnostic; at 100 TB you would swap back
    to xxhash64 for speed with zero structural change."""
    d = load(spark, sf_dir, "documents")
    return d.selectExpr(
        "doc_id",
        """
        array_distinct(transform(
          sequence(0, greatest(size(split(text, ' ')) - 6, 0)),
          w -> array_min(transform(sequence(w, w + 3),
                 i -> CAST(conv(substr(
                        md5(concat_ws(' ', slice(split(text, ' '), i + 1, 3))),
                        1, 15), 16, 10) AS BIGINT)))
        )) AS fingerprints
        """,
    ).select(
        "doc_id",
        F.size("fingerprints").alias("n_fingerprints"),
        F.array_min("fingerprints").alias("min_fp"),
        F.array_max("fingerprints").alias("max_fp"),
    )


# --- random-hyperplane LSH (sign LSH) for embeddings -------------------------


def _hyperplanes(nbits: int, dim: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (numpy, fixed seed) — the LSH
    family for cosine distance (Charikar 2002): P[collision] = 1 - θ/π."""
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.standard_normal((nbits, dim)).round(6).tolist()


def lsh_bucket(vec_col, planes) -> "F.Column":
    """Sign-bit bucket id: bit j = [v · plane_j ≥ 0]; one codegen expression
    per plane, O(nbits · dim) per row, zero shuffle.

    Memoized per (column name, basis) when ``vec_col`` is a name (round
    13): the tree is nbits × dim per-element literals plus HOF lambdas —
    hundreds of py4j round-trips of pure driver work, re-paid by every
    streaming micro-batch and probe for a basis that is seeded code.
    Columns are immutable trees over a by-name reference, so one tree
    serves every plan (expression cache only — never data)."""
    key = getattr(vec_col, "_jc", None) is None and isinstance(vec_col, str)
    if key:
        return _lsh_bucket_expr(vec_col, tuple(tuple(p) for p in planes))
    return _lsh_bucket_build(vec_col, planes)


@lru_cache(maxsize=16)
def _lsh_bucket_expr(vec_col: str, planes_key: tuple) -> "F.Column":
    return _lsh_bucket_build(vec_col, planes_key)


def _lsh_bucket_build(vec_col, planes) -> "F.Column":
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(p) for p in plane]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return bucket


def _l17_oracle(nbits: int = 6, dim: int = 64, corpus_pred: str = "") -> str:
    """DuckDB twin of l17: the fixed seeded hyperplanes are inlined as list
    literals (they are 6-decimal-rounded, so the SQL literals parse to the
    identical doubles), bucket bits re-derive from the same left-fold dot
    products, and the probe/re-rank stages mirror the Spark plan.
    ``corpus_pred`` restricts the corpus to a final (post-CDC) slice —
    because the hyperplane basis is FIXED, a vector's bucket is
    corpus-independent, so the delta-maintained index (l75/l76) shares
    this twin with only the slice predicate changed."""
    planes = _hyperplanes(nbits, dim)
    where = f"WHERE {corpus_pred}" if corpus_pred else ""
    bits = " + ".join(
        "(CASE WHEN LIST_SUM(LIST_TRANSFORM(LIST_ZIP(e, ["
        + ", ".join(repr(p) for p in plane)
        + "]), p -> p[1] * p[2])) >= 0 THEN {} ELSE 0 END)".format(1 << j)
        for j, plane in enumerate(planes)
    )
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(nbits)]
    )
    return f"""
    WITH v AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings {where}
    ),
    n AS (
      SELECT vec_id, e,
             SQRT(LIST_SUM(LIST_TRANSFORM(e, x -> x * x))) AS nrm
      FROM v
    ),
    idx AS (
      SELECT vec_id, e, nrm, ({bits}) AS bucket FROM n
    ),
    probes AS (
      SELECT vec_id AS query_id, e AS qe, nrm AS qn,
             UNNEST([{probes}]) AS bucket
      FROM idx WHERE vec_id % 20 = 0
    ),
    pairs AS (
      SELECT q.query_id, i.vec_id AS neighbor_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qe, i.e),
                            p -> p[1] * p[2])) / (q.qn * i.nrm), 6) AS cos_sim
      FROM idx i JOIN probes q USING (bucket)
      WHERE i.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 5
    """


@query("l17_vector_lsh_topk", oracle=_l17_oracle())
def l17_vector_lsh_topk(spark, sf_dir):
    """Approximate top-k cosine neighbors via random-hyperplane LSH — the
    third ANN scale path next to brute force (l3) and IVF (l12): vectors
    bucket by 6 sign bits (zero shuffle), queries probe their own bucket
    plus all Hamming-distance-1 buckets (multi-probe), candidates join on
    the bucket id — an equi-join, never a cross join — and exact cosine
    re-ranks within candidates. FULL SQL oracle since round 3: the seeded
    hyperplanes are fixed 6-decimal literals, so the DuckDB twin re-derives
    every sign bit, probe set, and ranked similarity and must agree
    pair-for-pair. At 100 TB the candidate volume per query is
    n/2^nbits × (nbits+1), tuned by nbits; recall vs l3 is measured in
    tests/test_llm_ext.py."""
    return _lsh_probe_topk(_lsh_corpus_index(spark, sf_dir))


def _lsh_corpus_index(spark, sf_dir, nbits: int = 6, pred=None):
    """Shared LSH build (l17 rebuild == l64 persist): every corpus vector
    sign-bucketed against the fixed seeded hyperplanes, as
    (vec_id, e, nrm, bucket). ``pred`` restricts the corpus slice."""
    planes = _hyperplanes(nbits, 64)
    return _embedding_frame(spark, sf_dir, pred).withColumn(
        "bucket", lsh_bucket("e", planes)
    )


def _lsh_assigner(q):
    """Sign-bucketing against the FIXED seeded basis — code, not data, so
    there is no quantizer to read and a delta-maintained bucket table
    equals the rebuilt one bucket-for-bucket."""
    planes = _hyperplanes(6, 64)
    return lambda ins: {"buckets": ins.withColumn("bucket", lsh_bucket("e", planes))}


LSH = IndexFamily(
    quantizers=(),
    tables=("buckets",),
    schemas={"buckets": _LSH_BUCKET_SCHEMA, "delta_ins": _EMBED_SCHEMA},
    build=lambda spark, sf_dir, pred: {
        "buckets": _lsh_corpus_index(spark, sf_dir, pred=pred)
    },
    assigner=_lsh_assigner,
)


def _lsh_probe_topk(indexed, nbits: int = 6):
    """Shared LSH probe (l17 == l64): queries = every 20th vector,
    multi-probe over the own bucket plus all Hamming-1 flips, bucket
    equi-join, exact cosine re-rank to top-5. The query buckets come from
    the index itself, so the probe never re-derives a sign bit."""
    queries = (
        indexed.filter(F.col("vec_id") % 20 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
            "bucket",
        )
        # multi-probe: own bucket + each single-bit flip
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(nbits)],
                )
            ),
        )
    )
    dot = F.aggregate(
        F.zip_with("qe", "e", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    pairs = (
        indexed.join(queries, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@query("l64_lsh_index_persist", oracle=_l17_oracle())
def l64_lsh_index_persist(spark, sf_dir):
    """LSH index persistence (the l62 protocol for the third ANN path):
    l17's sign-bucketed corpus (the :data:`LSH` family's full build,
    one ``buckets`` table — the hyperplanes are fixed 6-decimal seeded
    literals, code not data) persisted once under an
    :func:`ensure_index` manifest, probe answered purely from the
    persisted bucket table — queries take their own bucket from the index,
    so the probe plan contains NO hyperplane dot products and zero
    embeddings scans (test-pinned).

    100 TB: bucketing is a full-corpus map (6 × 64 multiply-adds per
    vector); persisting it turns every subsequent query batch into a
    bucket equi-join against an existing table — and on a cluster the
    persisted layout would be bucketed BY ``bucket``, making the probe
    join shuffle-free. Staleness: source-listing fingerprint + format
    version, same contract as l62/l63. Full SQL oracle: same as l17."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l64_lsh_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="lsh-v1",
        build=lambda d: _build_index(LSH, spark, sf_dir, d),
    )
    return _lsh_probe_topk(_read_state(spark, LSH, idx, ["buckets"])["buckets"])


#: l75/l76 share l17's oracle with only the corpus slice changed — the
#: hyperplane basis is fixed, so delta-maintained buckets == rebuilt buckets.
_L75_ORACLE = _l17_oracle(corpus_pred=_FINAL_SQL)


@query("l75_lsh_index_delta", oracle=_L75_ORACLE)
def l75_lsh_index_delta(spark, sf_dir):
    """Incremental LSH index maintenance (l65's delta algebra on the l64
    persisted bucket table): the persisted sign-bucket table is updated from a
    CDC embedding delta — inserts (the held-out ``%9==5`` slice) and
    tombstones (``%11==3``) — WITHOUT re-bucketing the corpus:

    - deletes: one broadcast anti-join against the bucket table;
    - inserts: map-side :func:`lsh_bucket` of the DELTA ONLY against the
      fixed seeded hyperplanes (6 × 64 multiply-adds per vector, a single
      codegen expression — zero exchange);
    - the hyperplane basis is CODE, not data — LSH's structural advantage
      over trained quantizers: there is no codebook to go stale, so the
      only maintained state is the assignment table itself.

    The multi-probe (same spec as l17/l64) runs over the delta-maintained
    buckets, and the oracle recomputes the ENTIRE final index from
    scratch in SQL over the mutated corpus — because the basis is fixed,
    delta-maintained MUST equal rebuilt bucket-for-bucket (a row
    surviving its tombstone or an insert bucketed wrong diverges the
    hash). The maintenance+probe plan reads only the persisted index and
    the staged feeds — zero embeddings scans (test-pinned).

    100 TB: maintenance is O(|delta|) map work + a broadcast anti-join
    vs O(corpus) for l64's rebuild; with the bucket table layout
    bucketed BY ``bucket`` on a cluster, the probe join stays
    shuffle-free after every delta window."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l75_lsh_delta_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="lsh-delta-v1",
        build=lambda d: _stage_index(LSH, spark, sf_dir, d),
    )
    return _lsh_probe_topk(_merged_feeds(LSH, spark, idx)["buckets"])


@query("l76_lsh_index_checkpoint", oracle=_L75_ORACLE)
def l76_lsh_index_checkpoint(spark, sf_dir):
    """LSH index write-back (the l70/l72 generation protocol on the l75
    state): l75's maintenance algebra runs ONCE inside the build and the merged
    bucket table is rewritten as generation ``buckets-g002`` via
    :func:`checkpoint_index_generation` (compact → atomic swap →
    VACUUM.json supersession → delete the old buckets and both feeds).
    The probe then reads ONLY the compacted generation: its plan has no
    anti-join, no union, no hyperplane evaluation (queries take their
    bucket from the index — the basis literals appear nowhere), and zero
    embeddings scans — all test-pinned with the vacuum layout. Oracle =
    l75's from-scratch twin: checkpointed == merged == rebuilt.

    100 TB: same economics as l70 — the per-probe merge tax becomes one
    O(index) IO rewrite per maintenance window, and the CDC feed
    directory is bounded by the vacuum exactly as k18 bounds the
    landing zone."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    def _stage(d: str) -> None:
        _stage_index(LSH, spark, sf_dir, d)
        _checkpoint_feeds(LSH, spark, d)

    idx = ensure_index(
        scratch_path(f"dps_l76_lsh_ckpt_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="lsh-ckpt-v1",
        build=_stage,
    )
    return _lsh_probe_topk(_read_heads(spark, LSH, idx)["buckets"])


_L65_ORACLE = """
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
      FROM v, LATERAL (SELECT UNNEST(range(1, len(e) + 1)) AS i) t
      WHERE vec_id % 9 <> 5
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
    scored AS (
      SELECT n.vec_id, n.e, n.nrm, c.bucket,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(n.e, c.ce),
                            p -> p[1] * p[2])) / (n.nrm * c.cnrm), 6) AS sim
      FROM n CROSS JOIN cn c
      WHERE n.vec_id % 9 = 5 OR n.vec_id % 11 <> 3
    ),
    indexed AS (
      SELECT vec_id, e, nrm, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM scored) WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id, e AS qe, nrm AS qn, bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, bucket) AS rn
        FROM scored WHERE vec_id % 20 = 0) WHERE rn <= 3
    ),
    pairs AS (
      SELECT q.query_id, i.vec_id AS neighbor_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qe, i.e),
                            p -> p[1] * p[2])) / (q.qn * i.nrm), 6) AS cos_sim
      FROM indexed i JOIN queries q USING (bucket)
      WHERE i.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 5
    """


@query("l65_ann_index_delta", oracle=_L65_ORACLE)
def l65_ann_index_delta(spark, sf_dir):
    """Incremental ANN index maintenance (l62's persistence + p17's delta
    algebra): the persisted IVF ASSIGNMENT table updated from a CDC delta
    of the embedding corpus — inserts (the held-out ``%9==5`` slice) and
    deletes (``%11==3`` tombstones) — WITHOUT re-assigning the corpus:

    - deletes: one broadcast anti-join against the assignment table;
    - inserts: map-side :func:`ivf_assign` of the DELTA ONLY against the
      loaded codebook (a literal-array expression, zero exchange);
    - the codebook itself stays FIXED (trained on yesterday's corpus) —
      the real-world contract, where coarse quantizers are retrained on a
      slow cadence while assignments track the data; a codebook refresh
      is the l62 rebuild path via the ensure_index staleness manifest.

    The probe (same spec as l12/l62) then runs over the delta-maintained
    assignments, and the oracle recomputes the ENTIRE final state from
    scratch in SQL — old-corpus centroids, final-corpus assignments and
    queries — so a row surviving its tombstone, an insert assigned to the
    wrong bucket, or a stale codebook diverges the hash: delta-maintained
    index == rebuilt-from-scratch index. The maintenance+probe plan reads
    only the persisted index and the staged delta feeds — zero
    embeddings scans, no centroid training (test-pinned).

    100 TB: assignment maintenance costs O(|delta|) map-side work plus a
    broadcast anti-join — against O(corpus) for the rebuild every prior
    ANN key implied; this is the nightly index refresh that makes a
    trillion-vector IVF operable."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l65_ivf_delta_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="ivf-delta-v1",
        build=lambda d: _stage_index(IVF, spark, sf_dir, d),
    )
    return _serve_ivf(_merged_feeds(IVF, spark, idx))


@query("l70_ivf_index_checkpoint", oracle=_L65_ORACLE)
def l70_ivf_index_checkpoint(spark, sf_dir):
    """ANN index write-back: the delta-maintained IVF assignment state
    (l65's) is CHECKPOINTED as a fresh
    index generation via :func:`checkpoint_index_generation` — the
    k17/k18 compact→atomic-swap→manifest→vacuum protocol applied to
    index state — so the probe stops re-paying the anti-join + union
    merge on every query and the CDC feeds stop accumulating.

    Flow: stage yesterday's persisted index + CDC feeds (the exact l65
    state: assignments trained/assigned without the ``%9==5`` slice,
    insert feed = that slice, tombstones = ``%11==3``), run l65's
    maintenance algebra ONCE over the persisted tables (broadcast
    anti-join deletes + map-side delta assignment against the fixed
    codebook), then write the merged table to ``assignments-g002.tmp``,
    ``os.replace`` it in, record the supersession in ``VACUUM.json``,
    and delete the superseded assignment table and both delta feeds.

    The returned probe (same spec as l12/l62/l65) reads ONLY the
    compacted generation + the persisted codebook: its plan has NO
    anti-join, NO union, and NO training stage (all test-pinned, with
    the file-count collapse and feed deletion), yet must equal l65's
    merged answer — the oracle is l65's from-scratch twin, so a row
    resurrected by the vacuum, dropped by the rewrite, or double-kept
    by a torn swap diverges the hash.

    100 TB: maintenance cost was O(|delta|) per probe under l65; the
    checkpoint makes it O(index IO) ONCE per maintenance window, after
    which probes are pure generation scans — the same economics as
    k17's landing-zone compaction, applied to the table every ANN query
    reads. Cites k18's ordering discipline: new generation durable
    before manifest, manifest before vacuum."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    def _stage(d: str) -> None:
        # yesterday's index + CDC feeds (l65's staging: maintenance and
        # checkpoint start from the same bytes), then l65's merge over the
        # PERSISTED state only, written back: compact → swap → manifest →
        # vacuum
        _stage_index(IVF, spark, sf_dir, d)
        _checkpoint_feeds(IVF, spark, d)

    idx = ensure_index(
        scratch_path(f"dps_l70_ivf_ckpt_{tag}"),
        os.path.join(sf_dir, "embeddings.parquet"),
        version="ivf-ckpt-v1",
        build=_stage,
    )
    return _serve_ivf(_read_heads(spark, IVF, idx))


@query("l79_index_time_travel", oracle=_L65_ORACLE)
def l79_index_time_travel(spark, sf_dir):
    """ANN index time travel (p21's VERSION-AS-OF read applied to INDEX
    state: every artifact the generation protocol checkpoints is as-of
    readable, not just the aggregate MV): TWO maintenance windows run
    inside the build —
    window 1 applies l65's CDC (the ``%9==5`` insert slice + ``%11==3``
    tombstones) and checkpoints ``assignments-g002`` with ``retain=1``;
    window 2 retracts a further tombstone slice (``%13==6`` of the
    surviving ids — pure key arithmetic, zero corpus scan) and
    checkpoints ``assignments-g003``, again ``retain=1``, which keeps
    the superseded g002 ON DISK in the manifest's ``retained`` list.

    The served probe is then a TIME-TRAVEL read: l12/l62's top-k spec
    over the RETAINED g002 while g003 is current. The oracle is l65's
    from-scratch twin (window-1 state recomputed from the base tables),
    so a retained generation corrupted by the later checkpoint, swept
    early, or confused with the head diverges the hash — and the
    companion test pins that g003 simultaneously answers the window-2
    state: two consistent index versions served from one directory.

    Why this matters for the index specifically: ANN recall regressions
    are discovered by OFFLINE evaluation hours after a maintenance
    window lands — the as-of read lets the eval harness replay
    yesterday's probes against yesterday's index (bitwise, not
    approximately) while production serves the head, and a confirmed
    regression rolls back by re-pointing the prober (p22's RESTORE).

    100 TB: identical economics to p21 — N retained generations of the
    assignment table (index-sized, not corpus-sized), swept by the same
    retention window; on object storage the retained list maps to
    Iceberg snapshots / Delta versions of the index table."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l79_ivf_travel_{tag}")

    def _stage(d: str) -> None:
        # window 1: l65's CDC merge -> g002, retained past window 2
        _stage_index(IVF, spark, sf_dir, d)
        _checkpoint_feeds(IVF, spark, d, retain=1)
        # window 2: retract %13==6 of the SURVIVORS from g002 -> g003;
        # retain=1 keeps g002 readable (the time-travel target)
        g2 = _read_state(spark, IVF, d, ["assignments-g002"])["assignments"]
        g2.filter(F.col("vec_id") % 13 == 6).select("vec_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "delta_del2"))
        d_del2 = spark.read.schema(_KEYS_SCHEMA).parquet(
            os.path.join(d, "delta_del2")
        )
        checkpoint_index_generation(
            d,
            g2.join(F.broadcast(d_del2), "vec_id", "left_anti"),
            superseded=["assignments-g002", "delta_del2"],
            generation="assignments-g003",
            retain=1,
        )

    idx = ensure_index(
        base,
        os.path.join(sf_dir, "embeddings.parquet"),
        version="ivf-travel-v1",
        build=_stage,
    )
    # serving: time-travel probe of the RETAINED generation
    return _serve_ivf(
        _read_state(spark, IVF, idx, ["centroids", "assignments-g002"])
    )


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 8, damping: float = 0.85) -> DataFrame:
    """PageRank by power iteration over an undirected edge list (edges are
    symmetrized). Each round is one join (contribution scatter) + one groupBy
    (gather), both shuffling on the node key, with ``localCheckpoint``
    truncating lineage so the plan stays O(1) per round — the same iterative
    discipline as :func:`~dask_pipes_spark.operators.llm_ops.connected_components`.
    Dangling handling: nodes exist in the symmetric edge set, so every node
    has degree ≥ 1; isolated nodes never enter. Returns (node, rank) with
    ranks summing to the node count (uniform-teleport formulation).

    Round 12 (guide §5 — cache what is reused): ``sym`` and ``deg`` are
    checkpointed ONCE before the loop. Each localCheckpoint previously
    re-ran their full upstream lineage per iteration — for l29 that
    lineage is the all-pairs cosine join, so 8 iterations paid the
    quadratic pair generation ~16× (sym + deg per round). Measured on
    l29 at sf0.01: 20.3 s → see OPTIMIZATION_r12.md. Arithmetic is
    untouched (same edges, same decimal-summed gather) so ranks are
    bit-identical. ``deg`` clusters on the prior s-repartition, and the
    edge dedup rides the same single exchange (dropDuplicates on the
    s-layout — hash on s satisfies the (s, d) aggregation's clustering)."""
    nparts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # one-pass symmetrization (explode, not union-of-selects): the edge
    # lineage — l29's all-pairs cosine join — executes once, not twice
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("s"), F.col("b").alias("d")),
                    F.struct(F.col("b").alias("s"), F.col("a").alias("d")),
                )
            ).alias("p")
        )
        .select("p.s", "p.d")
        .repartition(nparts, "s")
        .dropDuplicates()
        .localCheckpoint()
    )
    deg = (
        sym.groupBy(F.col("s").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    ranks = deg.select("node", F.lit(1.0).alias("rank")).localCheckpoint()
    for _ in range(iters):
        contribs = (
            sym.join(ranks.join(deg, "node"), sym.s == F.col("node"))
            .select(F.col("d").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            # DECIMAL-summed gather (d6 discipline): the per-node sum is
            # exact and associative, so partial-aggregation order cannot
            # perturb the iteration and DuckDB computes identical ranks —
            # this is what lets l29 carry a full recursive-CTE oracle
            .agg(F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("in_sum"))
        )
        ranks = (
            deg.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


_L29_ORACLE = """
    WITH RECURSIVE v AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, e,
             SQRT(LIST_SUM(LIST_TRANSFORM(e, x -> x * x))) AS nrm
      FROM v
    ),
    cand AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.e, b.e),
                           p -> p[1] * p[2])) / (a.nrm * b.nrm), 6) >= 0.30
    ),
    sym AS (
      SELECT DISTINCT s, d FROM (
        SELECT pa AS s, pb AS d FROM cand
        UNION ALL SELECT pb, pa FROM cand
      )
    ),
    deg AS (SELECT s AS node, COUNT(*) AS deg FROM sym GROUP BY s),
    pr(iter, node, rank) AS (
      SELECT 0, node, CAST(1.0 AS DOUBLE) FROM deg
      UNION ALL
      SELECT p.iter + 1, e.d,
             CAST(0.15 AS DOUBLE)
             + 0.85 * CAST(SUM(CAST(p.rank / dg.deg AS DECIMAL(38,18)))
                           AS DOUBLE)
      FROM pr p
      JOIN deg dg ON dg.node = p.node
      JOIN sym e ON e.s = p.node
      WHERE p.iter < 8
      GROUP BY p.iter + 1, e.d
    )
    SELECT node, rank FROM (
      SELECT node, ROUND(rank, 4) AS rank,
             ROW_NUMBER() OVER (ORDER BY ROUND(rank, 4) DESC, node) AS rn
      FROM pr WHERE iter = 8
    ) WHERE rn <= 20
    """


@query("l29_pagerank", oracle=_L29_ORACLE)
def l29_pagerank(spark, sf_dir):
    """Link analysis over the embedding near-dup graph: PageRank scores rank
    cluster centrality (which document is the 'canonical' member — an
    alternative keeper policy to min-id / max-quality). Graph = cosine pairs
    at 0.30; 8 power-iteration rounds. Output: top-20 nodes by (rounded
    rank, node). Full SQL oracle since round 2: the per-node gather is
    DECIMAL-summed (exact, order-invariant), so DuckDB's recursive-CTE
    power iteration computes bit-identical ranks; correctness is ALSO
    pinned against a dense numpy power iteration in tests."""
    e = load(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(e, threshold=0.30).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    pr = pagerank(pairs)
    w = Window.orderBy(F.round("rank", 4).desc(), F.col("node"))
    return (
        pr.select("node", F.round("rank", 4).alias("rank"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


@query(
    "l34_zipf_slope",
    oracle="""
    WITH freq AS (
      SELECT lang, token, COUNT(*) AS cnt
      FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
      GROUP BY lang, token
    ),
    ranked AS (
      SELECT lang,
             CAST(CAST(LN(ROW_NUMBER() OVER (PARTITION BY lang
                          ORDER BY cnt DESC, token)) AS DECIMAL(18,10)) AS DOUBLE) AS lx,
             CAST(CAST(LN(cnt) AS DECIMAL(18,10)) AS DOUBLE) AS ly,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
      FROM freq
    ),
    s AS (
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(CAST(lx AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ly AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(lx*ly AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(lx*lx AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM ranked WHERE rk <= 100 GROUP BY lang
    )
    SELECT lang, n,
           ROUND((sxy - sx*sy/n) / (sxx - sx*sx/n), 6) AS zipf_slope
    FROM s
    """,
)
def l34_zipf_slope(spark, sf_dir):
    """Zipf's-law fit per language — the OLS slope of log(frequency) vs
    log(rank) over each language's top-100 tokens. Natural corpora sit near
    slope ≈ −1; a far-off slope is a corpus-quality red flag (template spam
    → flat head, boilerplate dedup failures → cliff). Pipeline: explode →
    (lang, token) count → per-lang rank window → closed-form OLS from
    decimal sums (d23's discipline). Each engine's LN is snapped to
    DECIMAL(18,10) before summing, so libm last-ulp differences cannot
    reach the hash. The rank window sorts only ~vocab-size rows per lang —
    negligible next to the token-count shuffle, which map-side combines."""
    d = fanout(load(spark, sf_dir, "documents"))
    freq = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    snap = lambda c: F.log(c).cast("decimal(18,10)").cast("double")  # noqa: E731
    ranked = freq.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 100
    ).select(
        "lang",
        snap(F.col("rk")).alias("lx"),
        snap(F.col("cnt")).alias("ly"),
    )
    dec = "decimal(28,12)"
    n = F.count(F.lit(1))
    sx = F.sum(F.col("lx").cast(dec)).cast("double")
    sy = F.sum(F.col("ly").cast(dec)).cast("double")
    sxy = F.sum((F.col("lx") * F.col("ly")).cast(dec)).cast("double")
    sxx = F.sum((F.col("lx") * F.col("lx")).cast(dec)).cast("double")
    return ranked.groupBy("lang").agg(
        n.alias("n"),
        F.round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6).alias("zipf_slope"),
    )


@query(
    "l35_paragraph_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(t[i*10+1 : i*10+10], ' ') AS seg
      FROM toks, UNNEST(range(CAST(CEIL(len(t) / 10.0) AS BIGINT))) u(i)
    ),
    flagged AS (
      SELECT doc_id, seg_idx, seg,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY seg
                        ORDER BY doc_id, seg_idx) = 1
                  THEN 1 ELSE 0 END AS keep
      FROM segs
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN keep = 1 THEN seg END, ' '
                               ORDER BY seg_idx), '') AS clean_text,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(1 - keep) AS BIGINT) AS n_dropped
    FROM flagged GROUP BY doc_id
    """,
)
def l35_paragraph_dedup(spark, sf_dir):
    """Sub-document exact dedup (the paragraph-granularity variant of Lee
    et al. 2022's exact-substring removal, as shipped in corpus-curation
    stacks): documents split into 10-token segments in-row (sequence +
    slice — a per-row explode, no shuffle), every repeated segment after
    its first corpus occurrence dropped (first-occurrence rule = window
    rank over the segment text, deterministic), surviving segments
    reassembled in order. Two exchanges total: the segment-hash partition
    for the occurrence window, and the doc_id regroup; both key-partitioned
    and AQE-skew-safe. At 100 TB the segment window would key on
    ``xxhash64(seg)`` instead of the raw text to cut shuffle bytes —
    semantics identical, and the reassembly stage is unchanged."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_segs = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    segs = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            )
        ).alias("seg_idx", "seg"),
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    flagged = segs.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int")
    )
    kept_struct = F.when(
        F.col("keep") == 1, F.struct("seg_idx", "seg")
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
            ),
            " ",
        ).alias("clean_text"),
        F.sum("keep").alias("n_kept"),
        F.sum(1 - F.col("keep")).alias("n_dropped"),
    )


@query(
    "l36_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, lang, unnest(string_split_regex(text, '')) AS ch
      FROM documents
    ),
    counts AS (
      SELECT doc_id, lang, ch, COUNT(*) AS cnt FROM chars
      WHERE ch <> '' GROUP BY doc_id, lang, ch
    ),
    totals AS (
      SELECT doc_id, CAST(SUM(cnt) AS DOUBLE) AS total FROM counts GROUP BY doc_id
    ),
    ent AS (
      SELECT counts.doc_id, lang,
             CAST(SUM(CAST(
               -(cnt / total) * LOG2(cnt / total) AS DECIMAL(28,6))) AS DOUBLE)
               AS entropy
      FROM counts JOIN totals ON counts.doc_id = totals.doc_id
      GROUP BY counts.doc_id, lang
    )
    SELECT lang,
           ROUND(CAST(SUM(CAST(entropy AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_entropy,
           ROUND(MIN(entropy), 4) AS min_entropy,
           ROUND(MAX(entropy), 4) AS max_entropy,
           COUNT(*) AS n_docs
    FROM ent GROUP BY lang
    """,
)
def l36_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document, summarized per
    language — a gibberish/boilerplate quality signal (low entropy =
    repeated characters, high = random noise; natural text sits in a
    band, cf. the CCNet/Gopher quality-filter families alongside
    l14/l24/l30).

    Plan: explode text into characters, count per (doc, char), join the
    per-doc total back on the shared doc_id partitioning (one exchange,
    reused by both aggregates), then −Σ p·log₂p with each term cast to
    DECIMAL before the sum so the ≤~40-term accumulation is
    order-insensitive (the d11/d23 discipline — the terms themselves are
    single IEEE ops, bit-identical on both engines).

    100 TB: fan-out is |chars| rows but the per-(doc,char) combine is
    map-side partial; everything downstream is dimension-sized. An
    aggregate-free variant via F.transform over a char-frequency map
    would avoid the explode entirely but loses map-side combining of
    the (doc,char) space — at corpus scale the explode wins.
    """
    docs = fanout(load(spark, sf_dir, "documents"))
    dec = "decimal(28,6)"
    counts = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.col("text"), "")).alias("ch"),
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "lang", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("doc_id").agg(
        F.sum("cnt").cast("double").alias("total")
    )
    p = F.col("cnt") / F.col("total")
    ent = (
        counts.join(totals, on="doc_id")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum((-p * F.log2(p)).cast(dec)).cast("double").alias("entropy")
        )
    )
    return ent.groupBy("lang").agg(
        F.round(F.sum(F.col("entropy").cast(dec)).cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_entropy"
        ),
        F.round(F.min("entropy"), 4).alias("min_entropy"),
        F.round(F.max("entropy"), 4).alias("max_entropy"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "l37_containment",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             list_aggr(toks[i : i + 4], 'string_agg', ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT doc_a, doc_b, n_shared,
           FLOOR(CAST(n_shared AS DOUBLE) / sa.n_sh * 10000 + 0.5) / 10000
             AS containment_a,
           FLOOR(CAST(n_shared AS DOUBLE) / sb.n_sh * 10000 + 0.5) / 10000
             AS containment_b
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    """,
)
def l37_containment(spark, sf_dir):
    """CONTAINMENT near-dup scoring — the asymmetric cousin of Jaccard
    (|A∩B|/|A|): detects when one document swallows another (quote farms,
    boilerplate wrappers, partial scrapes) that symmetric Jaccard dilutes;
    the measure behind superset-dedup in large-corpus curation (the
    Lee et al. 2022 exact-substring family, l32's pairwise form).

    Plan: distinct word 5-grams per doc (one explode + distinct —
    shingle-level dedup bounds the fan-out), self-equi-join on the shingle
    string (candidate generation by shared content, the l10 blocking
    idiom), per-pair intersection counts, then containment in BOTH
    directions from the broadcast per-doc set sizes. ≥3-shared-shingle
    floor keeps the pair list at near-dup density. Quantized with the
    §7.6.2 FLOOR idiom, engine-identical.

    100 TB: the shingle join shuffles (shingle, doc) pairs — hot shingles
    are exactly LSH's banding problem; production swaps the raw-shingle
    block for l2's MinHash bands and keeps this operator as the exact
    re-scorer on the candidate set (two-tier: block cheap, score exact).
    """
    docs = load(spark, sf_dir, "documents")
    # Pre-filter short docs: sequence(0, size-5) flips DESCENDING when
    # size<5 and the slice then crashes ("SQL array indices start at 1");
    # the oracle's range() yields zero shingles for those docs, so dropping
    # them up front is semantics-identical (l32's guard idiom).
    toked = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 5
    )
    sh = (
        toked.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 5),
                    lambda i: F.array_join(F.slice("t", i + 1, 5), " "),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    # sh feeds sizes AND both self-join sides — pin it so the
    # explode+distinct runs once, not three times; scratch-parquet pin
    # (round 12: audit-visible, spill-proof) instead of localCheckpoint
    sh = pin_scratch(sh, "dps_l37_sh")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    q = lambda x: F.floor(x * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            q(F.col("n_shared").cast("double") / F.col("na")).alias("containment_a"),
            q(F.col("n_shared").cast("double") / F.col("nb")).alias("containment_b"),
        )
    )


# BM25 parameters (Robertson et al.; the retrieval-standard defaults)
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_QUERY = ("data", "model", "learn")


@query(
    "l40_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
      WHERE tok IN ('data', 'model', 'learn') GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_query_terms,
           FLOOR(CAST(SUM(CAST(
             LN(1 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * ({_BM25_K1} + 1)
             / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dlen / avgdl))
           AS DECIMAL(28,10))) AS DOUBLE) * 10000 + 0.5) / 10000 AS bm25
    FROM tf
    JOIN df USING (tok)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def l40_bm25(spark, sf_dir):
    """BM25 retrieval scoring (Robertson/Spärck Jones — the lexical
    -retrieval standard, and the first-stage ranker in most RAG data
    stacks): per-document score for a fixed query, from term frequencies
    saturated by k1, length-normalized by b against the corpus average
    document length, weighted by the +0.5-smoothed idf. Pure DataFrame
    composition — explode → two aggregates (tf per doc-term, df per term)
    → broadcast corpus scalars → scored sum per doc; l6 (tf-idf) and p11
    (hashed tf-idf) are the simpler members of this family.

    Each per-term score is one deterministic IEEE expression; terms are
    DECIMAL-cast before the per-doc sum (order-insensitive, the d11
    discipline) and the result FLOOR-quantized (§7.6.2).

    100 TB: df and the corpus stats are term-/scalar-cardinality
    broadcasts; tf is the only document-scale shuffle, pre-filtered to
    query terms at the scan — for ad-hoc queries over a static corpus,
    materialize the (term → posting) aggregate once (p5's incremental
    maintenance) and score from postings only.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    # dl feeds the corpus stats AND the per-doc join; tf feeds df AND the
    # scoring join — pin both so each explode+aggregate runs once (was 7
    # exchanges, recomputing the token explode for every consumer);
    # scratch-parquet pins (round 12: audit-visible, spill-proof) replace
    # the former localCheckpoint truncations
    dl = pin_scratch(
        toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen")),
        "dps_l40_dl",
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = pin_scratch(
        toks.filter(F.col("tok").isin(*_BM25_QUERY))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf")),
        "dps_l40_tf",
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    score = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dlen") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_query_terms"),
            (
                F.floor(
                    F.sum(score.cast("decimal(28,10)")).cast("double") * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("bm25"),
        )
    )


@query(
    "l42_bigram_xent",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    bigrams AS (
      SELECT doc_id, lang, t[i] AS prev, t[i + 1] AS cur
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    ),
    uni AS (
      SELECT prev, CAST(COUNT(*) AS DOUBLE) AS c_prev
      FROM bigrams GROUP BY prev
    ),
    bi AS (
      SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS c_bi
      FROM bigrams GROUP BY prev, cur
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT cur) AS DOUBLE) AS v FROM bigrams
    ),
    scored AS (
      SELECT b.doc_id, b.lang,
             CAST(SUM(CAST(
               -LOG2((c_bi + 0.5) / (c_prev + 0.5 * v))
             AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS xent
      FROM bigrams b
      JOIN bi USING (prev, cur)
      JOIN uni USING (prev)
      CROSS JOIN vocab
      GROUP BY b.doc_id, b.lang
    )
    SELECT lang,
           FLOOR(CAST(SUM(CAST(xent AS DECIMAL(28,10))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS avg_xent,
           FLOOR(MIN(xent) * 10000 + 0.5) / 10000 AS min_xent,
           FLOOR(MAX(xent) * 10000 + 0.5) / 10000 AS max_xent,
           COUNT(*) AS n_docs
    FROM scored GROUP BY lang
    """,
)
def l42_bigram_xent(spark, sf_dir):
    """Bigram conditional cross-entropy per document (the CCNet-family LM
    quality signal one order up from l30's unigram model): score each doc
    by −(1/n)·Σ log₂ P(cur|prev) under an add-k-smoothed bigram model
    fitted on the corpus itself — fluent text (predictable continuations)
    scores low, shuffled/boilerplate text high. Summarized per language.

    Plan: positional bigram explode (the l37 slice idiom at n=2), two
    count aggregates (bigram, unigram-context) joined back onto the bigram
    stream, vocab size as a broadcast scalar. Each log term is one
    deterministic IEEE expression, DECIMAL-cast before every sum (d11),
    FLOOR-quantized at the reporting edge (§7.6.2).

    100 TB: the model tables are vocab-bounded (Heaps' law — the l28/l30
    argument); the doc-stream join is the only corpus-scale shuffle and
    reuses the (prev,cur) partitioning of the count that produced it.
    """
    docs = load(spark, sf_dir, "documents")
    # Pre-filter one-token docs: sequence(1, size-1) flips DESCENDING when
    # size<2 and element_at(toks, 0) then crashes; the oracle yields zero
    # bigrams for those docs, so dropping them is semantics-identical.
    toked = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 2)
    bigrams = toked.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("prev"),
                    F.element_at("t", i + 1).alias("cur"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "lang", "bg.prev", "bg.cur")
    # the bigram stream feeds uni, bi, vocab AND the scored join — pin it
    # so the tokenize+explode runs once, not four times (the "materialize
    # the tokenized view" call every corpus pipeline makes); scratch-
    # parquet pin (round 12: audit-visible) instead of localCheckpoint
    bigrams = pin_scratch(bigrams, "dps_l42_bigrams")
    uni = bigrams.groupBy("prev").agg(
        F.count(F.lit(1)).cast("double").alias("c_prev")
    )
    bi = bigrams.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("double").alias("c_bi")
    )
    vocab = bigrams.agg(
        F.countDistinct("cur").cast("double").alias("v")
    )
    term = -F.log2(
        (F.col("c_bi") + 0.5) / (F.col("c_prev") + 0.5 * F.col("v"))
    )
    scored = (
        bigrams.join(bi, ["prev", "cur"])
        .join(uni, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.sum(term.cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("xent")
        )
    )
    q = lambda x: F.floor(x * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return scored.groupBy("lang").agg(
        q(
            F.sum(F.col("xent").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_xent"),
        q(F.min("xent")).alias("min_xent"),
        q(F.max("xent")).alias("max_xent"),
        F.count(F.lit(1)).alias("n_docs"),
    )


from dask_pipes_spark.registry import ORACLES as _ORACLES  # noqa: E402


@query(
    "l44_langid_confusion",
    oracle="WITH pred AS (" + _ORACLES["l13_language_id"] + """)
    SELECT true_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY true_lang)
                 * 10000 + 0.5) / 10000 AS row_share
    FROM pred GROUP BY true_lang, pred_lang
    """,
)
def l44_langid_confusion(spark, sf_dir):
    """Classifier evaluation INSIDE the engine — the confusion matrix of
    l13's language-ID against the gold ``lang`` labels: per (true, pred)
    cell count plus the row-normalized share (recall on the diagonal).
    The engine evaluating its own curation operators is the closing loop
    of a data pipeline: the same pattern scores any labeled heuristic
    (quality filters vs human ratings, dedup candidates vs audited pairs)
    without leaving Spark. The oracle literally embeds l13's oracle as a
    CTE, so both layers stay independently checked.

    100 TB: adds one 25-cell aggregate over l13's doc-grain output —
    evaluation cost is the classifier's cost.
    """
    pred = l13_language_id(spark, sf_dir)
    w = Window.partitionBy("true_lang")
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "true_lang",
            "pred_lang",
            "n",
            (
                F.floor(
                    F.col("n").cast("double")
                    / F.sum("n").over(w)
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("row_share"),
        )
    )


@query(
    "l47_source_overlap",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS vs FROM vocab GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM vocab a JOIN vocab b
        ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared,
           FLOOR(CAST(n_shared AS DOUBLE)
                 / (sa.vs + sb.vs - n_shared) * 10000 + 0.5) / 10000
             AS vocab_jaccard
    FROM inter
    JOIN sizes sa ON src_a = sa.source
    JOIN sizes sb ON src_b = sb.source
    """,
)
def l47_source_overlap(spark, sf_dir):
    """Source-level vocabulary overlap matrix (data-mixture diagnostics:
    which corpus sources are near-clones of each other BEFORE you weight
    them — l25/l33's mixture math assumes sources are distinct; this
    measures whether they are): per-source distinct token vocabularies,
    pairwise intersections via the shared-token equi-join (the l37
    blocking idiom at source grain, src_a < src_b each pair once), Jaccard
    from the inclusion-exclusion denominator. FLOOR-quantized (§7.6.2).

    100 TB: vocab is (sources × vocab-size) after the distinct (Heaps'
    law, the l28/l30 bound); the token join shuffles vocab-grain rows,
    never documents — with S sources the output is S·(S−1)/2 rows, and a
    hot token touches S rows, not |corpus|.
    """
    docs = fanout(load(spark, sf_dir, "documents"))
    # vocab feeds sizes AND both self-join sides — pin it so the
    # explode+distinct runs once; scratch-parquet pin (round 12:
    # audit-visible, spill-proof) instead of localCheckpoint
    vocab = pin_scratch(
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct(),
        "dps_l47_vocab",
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("vs"))
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("vs").alias("va"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("vs").alias("vb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            (
                F.floor(
                    F.col("n_shared").cast("double")
                    / (F.col("va") + F.col("vb") - F.col("n_shared"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("vocab_jaccard"),
        )
    )


@query(
    "l49_semdedup_prune",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    dims AS (
      SELECT label, generate_subscripts(e, 1) AS pos, unnest(e) AS val,
             vec_id
      FROM v
    ),
    cent AS (
      SELECT label, LIST(cv ORDER BY pos) AS c
      FROM (SELECT label, pos, AVG(val) AS cv FROM dims GROUP BY label, pos)
      GROUP BY label
    ),
    scored AS (
      SELECT v.vec_id, v.label,
             ROUND(
               LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.e, cent.c), p -> p[1] * p[2]))
               / (SQRT(LIST_SUM(LIST_TRANSFORM(v.e, x -> x * x)))
                  * SQRT(LIST_SUM(LIST_TRANSFORM(cent.c, x -> x * x)))), 6)
               AS cos_c
      FROM v JOIN cent USING (label)
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                   ORDER BY cos_c DESC, vec_id) AS rn,
             COUNT(*) OVER (PARTITION BY label) AS n
      FROM scored
    )
    SELECT label,
           CAST(MAX(n) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) FILTER (WHERE rn <= CEIL(n / 4.0)) AS BIGINT)
             AS n_core,
           MIN(CASE WHEN rn <= CEIL(n / 4.0) THEN vec_id END) AS kept_rep,
           CAST(COUNT(*) FILTER (WHERE rn <= CEIL(n / 4.0)) - 1 AS BIGINT)
             AS n_dropped
    FROM ranked GROUP BY label
    """,
)
def l49_semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
    within each embedding cluster (the fixture ``label`` stands in for the
    k-means assignment), vectors closest to the cluster CENTROID are the
    semantic-duplicate core — SemDeDup keeps one representative per
    near-centroid group and drops the rest, shrinking web corpora ~50%
    with no quality loss. Here the top quartile by centroid-cosine is the
    core set, the min vec_id survives, and per-cluster accounting is
    emitted; fully SQL-oracled (centroids, cosines, ranks recomputed in
    DuckDB).

    100 TB: centroids are a vocab-scale table (k × dim) built in one
    aggregate pass and broadcast back; scoring is map-side; the only
    corpus-scale shuffle is the per-cluster rank window, keyed by label —
    exactly k-partitionable. The quadratic pairwise SemDeDup variant is
    what l11/p4 cover; this is the linear centroid approximation the
    paper ships."""
    e = fanout(load(spark, sf_dir, "embeddings"))
    v = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cent = (
        v.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("cv"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select("label", F.expr("transform(pairs, p -> p.cv)").alias("c"))
    )
    dot = F.aggregate(
        F.zip_with("e", "c", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x)
    )
    scored = v.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(dot / (nrm(F.col("e")) * nrm(F.col("c"))), 6).alias("cos_c"),
    )
    w = Window.partitionBy("label").orderBy(F.col("cos_c").desc(), "vec_id")
    wn = Window.partitionBy("label")
    ranked = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    core = F.col("rn") <= F.ceil(F.col("n") / 4.0)
    return ranked.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.count_if(core).alias("n_core"),
        F.min(F.when(core, F.col("vec_id"))).alias("kept_rep"),
        (F.count_if(core) - 1).alias("n_dropped"),
    )


@query(
    "l51_fuzzy_join",
    oracle="""
    WITH b AS (
      SELECT doc_id, substr(text, 1, 16) AS blk,
             regexp_replace(substr(text, 1, 80), '[^\\x00-\\x7F]', '?', 'g') AS s
      FROM documents
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.s, c.s) AS BIGINT) AS edit_dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.s, c.s) <= 20
    """,
)
def l51_fuzzy_join(spark, sf_dir):
    """Edit-distance fuzzy self-join with prefix blocking — the classic
    record-linkage shape (Fellegi/Sunter blocking; Ed-Join, Xiao et al.
    VLDB 2008 uses the same prefix-filter idea): candidate pairs come ONLY
    from an equi-join on a cheap blocking key (here the first 16 chars),
    then the expensive Levenshtein verifier runs on the bounded candidate
    set. Distances are computed on an 80-char window so per-pair cost is
    O(80²) regardless of document length.

    Cross-engine determinism: Spark's ``levenshtein`` counts CHARACTERS
    while DuckDB's counts BYTES (a found-by-hypothesis divergence — 'é' is
    distance 2 from '' there), so both sides fold non-ASCII to '?' before
    measuring; on the folded strings bytes == characters and the SQL
    oracle is exact for any input corpus (the differential test in
    tests/test_llm_ext.py proves the folded property on arbitrary
    unicode).

    100 TB: the blocking key turns an O(n²) all-pairs problem into a
    shuffle-by-block equi-join — quadratic only WITHIN a block, and block
    sizes are data-bounded (oversized blocks are the skew case; salt or
    sub-block by a second key, the c13 pattern). The verifier is a pure
    JVM codegen expression: no Python, no UDF."""
    d = load(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.substring("text", 1, 16).alias("blk"),
        F.regexp_replace(
            F.substring("text", 1, 80), "[^\\x00-\\x7F]", "?"
        ).alias("s"),
    )
    a, c = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.s"), F.col("c.s"))
    return (
        a.join(c, (F.col("a.blk") == F.col("c.blk"))
               & (F.col("a.doc_id") < F.col("c.doc_id")))
        .where(dist <= 20)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            dist.cast("bigint").alias("edit_dist"),
        )
    )


@query(
    "l52_kl_drift",
    oracle="""
    WITH toks AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    per_src AS (
      SELECT source, tok, COUNT(*) AS c_s FROM toks GROUP BY source, tok
    ),
    src_tot AS (
      SELECT source, CAST(SUM(c_s) AS BIGINT) AS t_s FROM per_src GROUP BY source
    ),
    corpus AS (
      SELECT tok, CAST(SUM(c_s) AS BIGINT) AS c FROM per_src GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM corpus),
    terms AS (
      SELECT p.source,
             CAST((CAST(p.c_s AS DOUBLE) / s.t_s)
                  * LN((CAST(p.c_s AS DOUBLE) / s.t_s)
                       / (CAST(g.c AS DOUBLE) / tot.t))
                  AS DECIMAL(28,12)) AS term
      FROM per_src p
      JOIN src_tot s USING (source)
      JOIN corpus g USING (tok)
      CROSS JOIN tot
    )
    SELECT source,
           (SELECT t_s FROM src_tot WHERE src_tot.source = terms.source)
             AS n_tok,
           ROUND(CAST(SUM(term) AS DOUBLE), 4) AS kl_vs_corpus
    FROM terms GROUP BY source
    """,
)
def l52_kl_drift(spark, sf_dir):
    """Distribution-drift monitor: KL(P_source ‖ P_corpus) over unigram
    token distributions — the standard training-mix diagnostic for "has
    this source's language shifted vs the blend" (same statistic DoReMi /
    data-mixing work optimizes). KL is computed only over tokens the
    source actually emits (P>0), and Q>0 holds by construction since the
    corpus distribution is the union of the sources.

    Per-token terms are quantized to DECIMAL(28,12) before the per-source
    sum, so aggregation order cannot perturb the result and the DuckDB
    oracle matches bitwise (l30's discipline at higher precision — drift
    terms are tiny).

    100 TB: both count passes shuffle vocab-sized data (Heaps' law), the
    corpus table broadcasts back onto per-source counts, and the final
    aggregate is one row per source — no corpus-scale shuffle anywhere."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    # per_src is the (|sources|·|V|)-bounded spine every downstream branch
    # reads (its own join input, src_tot, corpus, tot); the scratch-parquet
    # pin materializes the corpus-scale explode+count ONCE instead of once
    # per branch (round 12: dropped the executed plan from 9 exchanges to
    # 5 like the former localCheckpoint, but every consumer now plans a
    # visible, column-prunable parquet scan)
    per_src = pin_scratch(
        toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_s")),
        "dps_l52_per_src",
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("c_s").cast("long").alias("t_s")
    )
    corpus = per_src.groupBy("tok").agg(F.sum("c_s").cast("long").alias("c"))
    tot = corpus.agg(F.sum("c").cast("long").alias("t"))
    p = F.col("c_s").cast("double") / F.col("t_s")
    q = F.col("c").cast("double") / F.col("t")
    terms = (
        per_src.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "t_s",
            (p * F.log(p / q)).cast("decimal(28,12)").alias("term"),
        )
    )
    return terms.groupBy("source").agg(
        F.max("t_s").alias("n_tok"),
        F.round(F.sum("term").cast("double"), 4).alias("kl_vs_corpus"),
    )


@query(
    "l53_perplexity_buckets",
    oracle="""
    WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                  FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
    scored AS (
      SELECT doc_id,
             CAST(-LN(CAST(c AS DOUBLE) / t) AS DECIMAL(28,6)) AS lp
      FROM toks JOIN vocab USING (tok) CROSS JOIN tot
    ),
    xent AS (
      SELECT doc_id,
             ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 4) AS ce
      FROM scored GROUP BY doc_id
    ),
    cuts AS (
      SELECT quantile_disc(ce, 1.0/3) AS q33,
             quantile_disc(ce, 2.0/3) AS q66
      FROM xent
    )
    SELECT CASE WHEN ce <= q33 THEN 'head'
                WHEN ce <= q66 THEN 'middle'
                ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(ce AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_ce,
           MIN(ce) AS min_ce, MAX(ce) AS max_ce
    FROM xent CROSS JOIN cuts
    GROUP BY 1
    """,
)
def l53_perplexity_buckets(spark, sf_dir):
    """CCNet-style quality bucketing (Wenzek et al. 2020): score every doc
    by LM cross-entropy (the corpus-fit unigram floor, = l30's statistic),
    split the corpus into head/middle/tail at the exact 33rd/66th
    percentile, and report per-bucket document counts and score ranges —
    the triage that decides which third of a web crawl feeds training.

    The cutoffs come from ``percentile_disc`` (an order-statistic PICKED
    from the data, so both engines agree exactly — no interpolation), and
    bucketing is then a map-side comparison against two broadcast scalars.
    This is the 100 TB-honest shape: a global NTILE would funnel the whole
    corpus through one window partition, while a two-scalar broadcast
    keeps the labeling pass embarrassingly parallel (the production
    variant swaps the exact percentile for approx_percentile with no
    structural change)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").cast("long").alias("t"))
    probs = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        (-F.log(F.col("c").cast("double") / F.col("t")))
        .cast("decimal(28,6)")
        .alias("lp"),
    )
    # the per-doc score table is read twice (percentile cutoffs + bucket
    # labeling); the scratch-parquet pin materializes the corpus-scale
    # score pass once (same reuse win as the former localCheckpoint — 10
    # exchanges → 2 — with the plan left fully audit-visible, round 12)
    xent = pin_scratch(
        toks.join(F.broadcast(probs), "tok")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 4).alias("ce")
        ),
        "dps_l53_xent",
    )
    cuts = xent.agg(
        F.expr("percentile_disc(1.0/3) WITHIN GROUP (ORDER BY ce)").alias("q33"),
        F.expr("percentile_disc(2.0/3) WITHIN GROUP (ORDER BY ce)").alias("q66"),
    )
    bucket = (
        F.when(F.col("ce") <= F.col("q33"), "head")
        .when(F.col("ce") <= F.col("q66"), "middle")
        .otherwise("tail")
    )
    return (
        xent.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("ce").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_ce"),
            F.min("ce").alias("min_ce"),
            F.max("ce").alias("max_ce"),
        )
    )
