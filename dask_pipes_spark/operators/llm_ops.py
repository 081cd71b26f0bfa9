"""Group L — LLM-data-pipeline operators (SURVEY.md §2-L, the north-star
extension: dedup, similarity search, text analysis over the ``documents`` /
``embeddings`` corpora).

Published grounding: MinHash (Broder 1997, "On the resemblance and
containment of documents"); near-dedup of LLM training data (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better"); LSH banding
(Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch.3).

Scale notes (100 TB):
- l1 exact dedup is one hash + one groupBy — shuffle keyed by digest, skew
  bounded by the largest duplicate cluster.
- l2 MinHash-LSH avoids *all* pairwise comparison: signatures are 32 mins
  computed in one aggregation pass (2 md5s per shingle via the
  Kirsch-Mitzenmacher family), candidates come from equi-joins on band
  hashes. Cluster skew (a viral duplicate) concentrates in one band bucket —
  ``LSH_BUCKET_CAP`` bounds pair emission per bucket (all-pairs among the
  cap smallest members + star edges from the representative → O(cap^2 + m)
  per bucket), so a million-copy duplicate emits ~1M edges, not ~10^12;
  AQE skew-join splits what remains.
- l3 brute-force cosine is the *correctness baseline*; its crossJoin is
  explicitly blocked on a bounded query set. The scale path is LSH/IVF
  partitioning (bucket vectors by coarse quantizer, search only matching
  buckets — REPOSE, ICDE 2021 pattern), which reuses l2's machinery.
- Everything stays in JVM expressions (xxhash64, HOF lambdas); zero Python
  in any hot path.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from dask_pipes_spark.registry import davg, dsum, query, sql_davg, sql_dsum
from dask_pipes_spark.session import (
    ensure_index,
    fanout,
    load,
    pin_scratch,
    scratch_path,
)

NUM_PERM = 32  # minhash permutations
BANDS = 8  # LSH bands → rows-per-band r = 4; s-curve threshold ≈ (1/8)^(1/4) ≈ 0.59
MH_PRIME = 281474976710597  # largest prime < 2**48; K-M permutation modulus
# Production guard (round-4): bound pair emission per band bucket. Buckets of
# size m <= CAP emit all m(m-1)/2 pairs (identical to uncapped LSH); larger
# buckets emit all pairs among the CAP smallest doc_ids PLUS one star edge
# from the bucket representative (min doc_id) to each remaining member —
# O(CAP^2 + m) pairs instead of O(m^2), while every member stays transitively
# connected to the representative, so the dedup DECISION (l18's connected
# components — the consumer of these pairs) is unchanged. This is the bucket-size bound Lee et al.
# 2022 apply to viral duplicates; SCALING.md measures the curve.
LSH_BUCKET_CAP = 8


@query(
    "l1_exact_dedup",
    oracle="""
    SELECT SHA256(text) AS text_sha,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY SHA256(text)
    """,
)
def l1_exact_dedup(spark, sf_dir):
    """Exact content dedup: hash text, keep the min doc_id per digest — the
    deterministic survivor rule (Lee et al. 2022 exact-substring baseline).
    One shuffle keyed by digest; the single-file scan fans out first so the
    sha256 map stage uses every core (round 6)."""
    d = fanout(load(spark, sf_dir, "documents"))
    return (
        d.withColumn("text_sha", F.sha2("text", 256))
        .groupBy("text_sha")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def mh_base(col, pos: int) -> "F.Column":
    """Portable 48-bit base hash: 12 hex chars of ``md5(shingle)`` starting
    at 1-based ``pos``, parsed identically by Spark (``conv``) and DuckDB
    (``'0x' ||`` cast) — the l16 discipline, applied here so the ENTIRE
    MinHash-LSH candidate set is cross-engine reproducible and l2/l7/l18/l56
    carry full SQL oracles.

    Round-4 change: permutations use the Kirsch-Mitzenmacher 2-hash family
    g_i = (h1 + i*h2) mod P ("Less Hashing, Same Performance", ESA 2006)
    with h1/h2 = two disjoint 48-bit slices of a SINGLE md5 digest — ONE
    md5 evaluation per shingle instead of NUM_PERM(=32), measured ~2x on
    signature generation vs even the two-digest variant. Caveat: the 32
    permutations share 96 bits of per-shingle randomness and are pairwise
    correlated, so est_jaccard variance is somewhat higher than 32
    independent hashes would give; the actual evidence that recall holds is
    the empirical l56 recall gate (oracle-pinned), not a min-wise
    independence theorem. 48-bit bases keep h1 + 31*h2 < 2**53, exact in
    int64 on both engines. At 100 TB you would swap md5 for ``xxhash64``;
    the banding, join and clustering structure is hash-family-agnostic."""
    return F.conv(F.substring(F.md5(col), pos, 12), 16, 10).cast("bigint")


def sql_mh_base(expr: str, pos: int) -> str:
    """DuckDB twin of :func:`mh_base`."""
    return f"CAST(('0x' || substr(md5({expr}), {pos}, 12)) AS BIGINT)"


def minhash_signatures(docs: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """(doc_id, sig: array<bigint>) — MinHash signatures over 3-word shingles.

    The i-th permutation is simulated by an independent seeded hash
    (Broder's min-wise hashing); the signature is the element-wise min per
    document, computed as ``num_perm`` MIN aggregates in a single groupBy
    pass — no per-permutation shuffle. The aggregate is built as one SQL
    expression string: one parse instead of ~10 py4j ``Column`` calls per
    permutation, which dominated the driver-side plan build.
    """
    shingled = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, greatest(size(split(text, ' ')) - 3, 0)),"
                    " i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))"
                )
            )
        ).alias("shingle"),
    )
    based = shingled.select(
        "doc_id",
        mh_base(F.col("shingle"), 1).alias("mh1"),
        mh_base(F.col("shingle"), 13).alias("mh2"),
    )
    mins = ", ".join(f"min((mh1 + {i} * mh2) % {MH_PRIME})" for i in range(num_perm))
    return based.groupBy("doc_id").agg(F.expr(f"array({mins})").alias("sig"))


def lsh_bandrows(
    sigs: DataFrame, num_perm: int = NUM_PERM, bands: int = BANDS
) -> DataFrame:
    """(doc_id, band_id, bkey) — one row per (document, LSH band).

    bucket key = the band's signature slice (rendered as a ':'-joined
    decimal string so Spark and DuckDB group on identical keys), not a
    re-hash of it — no second hash family in the semantic path, so the
    candidate set is exactly "some band identical", reproducible in SQL.
    Shared by lsh_candidates (pair generation) and l59 (bucket audit)."""
    r = num_perm // bands
    stack_expr = "stack({}, {}) as (band_id, bkey)".format(
        bands,
        ", ".join(
            f"{j}, concat_ws(':', transform(slice(sig, {j * r + 1}, {r}),"
            " x -> cast(x as string)))"
            for j in range(bands)
        ),
    )
    return sigs.select("doc_id", "sig").selectExpr("doc_id", stack_expr)


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    cap: int = LSH_BUCKET_CAP,
    _checkpoint: bool = True,
) -> DataFrame:
    """(doc_a, doc_b) — candidate pairs sharing ≥1 LSH band bucket,
    with pair emission bounded per bucket (``LSH_BUCKET_CAP``) — the
    un-scored candidate set. Consumers that only need connectivity
    (l18's components, the bench dedup chain) take this frame and skip
    the two signature join-backs ``lsh_candidates`` adds for
    ``est_jaccard``: the joins never change cardinality (both endpoints
    come from the signature table by construction) but Catalyst cannot
    prove that, so on the scored frame they execute — two shuffle joins
    against the full signature table that a connectivity consumer pays
    for nothing. At sf10 that is 2 × (millions of pairs ⋈ 500k sigs).

    Each signature is cut into ``bands`` slices of r = num_perm/bands rows;
    a pair becomes a candidate iff some slice hashes identically (probability
    1-(1-s^r)^b for true Jaccard s — the LSH s-curve).

    Scale guard: members of a bucket are ranked by doc_id; the pair (a, b),
    a < b, is emitted iff rank(b) <= cap (all-pairs among the cap smallest)
    OR rank(a) == 1 (star edge from the bucket representative). Per-bucket
    output is O(cap^2 + m) instead of O(m^2) — a viral duplicate with a
    million copies emits ~1M star edges, not ~10^12 pairs — and transitive
    connectivity to the representative is preserved, so downstream
    components (l18) and keep-best decisions are unchanged. Buckets never
    exceeding the cap (the common case) behave exactly as uncapped LSH.

    Join-free emission (round 13 — the r12 verdict's item 7): the cap
    rule with a < b (⟺ rank(a) < rank(b)) splits exactly into two
    disjoint branches, neither needing the former capped-side ⋈ full-side
    BroadcastHashJoin:

    - **head all-pairs** (rank(b) <= cap): per bucket, the cap-smallest
      members collect into a <= cap-element array (bounded — the skew
      guard the r12 note demanded of any array formulation) and an array
      comprehension emits every i < j pair;
    - **rep→tail star rows** (rank(b) > cap ∧ rank(a) == 1): a straight
      projection of the over-cap rows, whose representative rides the
      SAME window pass as the rank.

    Same 3-exchange plan (window + grouped heads + dropDuplicates), zero
    joins (plan-verified). What this retires at 100 TB: the broadcast
    BUILD of the capped side — O(N) rows (≤ cap per bucket × bands·N/m
    buckets) collected to the driver and shipped to every executor —
    and the hash-probe of every banded row against it. Pair sets
    asserted identical on the fixture corpus and the planted
    viral-bucket graph; local timing a wash at sf0.1 (floor-bound,
    0.716 vs 0.722 s noop median).
    """
    # sig is referenced by the ranked window's two branches (and, in the
    # scored wrapper, by the two score join-backs); the pin materializes
    # it once (cheap: num_perm bigints per doc) instead of recomputing the
    # md5 aggregation per branch. The scored wrapper pins BEFORE calling
    # here and passes _checkpoint=False so the same materialization feeds
    # both the banding and the join-backs. Round 12: the pin is a
    # scratch-parquet round trip (pin_scratch) — the signature table IS
    # the natural durable materialization boundary of the dedup pipeline
    # (l66 persists exactly this frame), so writing it to parquet gives
    # single execution, fault tolerance (lost executors re-read, where a
    # localCheckpoint block forces a from-source re-run), AND a serving
    # plan that is a plain parquet scan the EXPLAIN gate audits whole.
    # Known cost, accepted: building this DataFrame runs a write job at
    # construction time, so plan-only tooling pays it too.
    if _checkpoint:
        sigs = pin_scratch(sigs, "dps_lsh_sigs")
    banded = lsh_bandrows(sigs, num_perm, bands)
    w = Window.partitionBy("band_id", "bkey").orderBy("doc_id")
    ranked = banded.withColumn("rnk", F.row_number().over(w)).withColumn(
        "rep", F.first("doc_id").over(w)  # same window pass as the rank
    )
    head = (
        ranked.filter(F.col("rnk") <= cap)
        .groupBy("band_id", "bkey")  # rides the window's hash layout
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    )
    pairs_head = head.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    pairs_tail = ranked.filter(F.col("rnk") > cap).select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    return pairs_head.unionAll(pairs_tail).dropDuplicates(
        ["doc_a", "doc_b"]  # same pair from multiple bands
    )


def lsh_star_edges(
    sigs: DataFrame,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
) -> DataFrame:
    """(doc_a, doc_b) edges with the SAME connected components as
    :func:`lsh_candidate_pairs` at a fraction of its cost — the
    connectivity-consumer fast path (round 12, guide §2.3/§2.4: shuffle
    fewer bytes, remove the self-join exchange outright).

    Per (band, bucket), emit one edge from the bucket representative
    (min doc_id) to every other member. Equivalence proof: (⊆) every star
    edge (rep, x) is itself a capped pair — the representative has bucket
    rank 1, and rank-1 members pair with EVERY other member (the
    ``rnk_a == 1`` branch of the cap rule) — so star components refine
    pair components; (⊇) every capped pair (a, b) joins two members of
    one bucket, and both endpoints carry a star edge to that bucket's
    representative, so a and b are already connected via the rep in the
    star graph. Hence the transitive closures are identical, and every
    min-label consumer (l18/l80 components, the bench dedup histogram)
    computes identical output. The pair SET itself (l2/l66/l74's declared
    output) still comes from :func:`lsh_candidate_pairs` — this frame is
    only for consumers that never look at individual pairs.

    Cost vs the pair generator, measured at sf0.1 (noop sink, guide
    §1.4): 344 ms vs 895 ms. Plan: two exchanges (the band/bucket window
    + the cross-band dedup below) instead of three (window + self-join +
    dropDuplicates), join-free, and the edge count is ≤ bands per doc
    instead of O(cap²+m) per bucket — at 100 TB the round-over-round CC
    shuffles carry ~bands×N edges instead of the capped-quadratic pair
    set, and a viral million-copy duplicate emits exactly its ~1M star
    edges with no self-join compute behind them.

    Cross-band dedup (round 13 — the r12 verdict's skew item): a true
    duplicate shares ALL ``bands`` band buckets, so its rep→member edge
    is emitted up to ``bands`` (8×) times and every copy used to ride
    into connected_components' symmetrize exchange before being deduped
    there — under a planted 500k-copy viral bucket that is 8.0M rows
    (≈128 MB of 16 B edges) through the sym exchange. Deduping HERE puts
    8 M rows through one (doc_a, doc_b) exchange and only the distinct
    2×0.5 M through sym (≈80 MB total, −38%); measured interleaved:
    7.09 → 5.67 s (−20%) on the planted-skew graph, a wash inside noise
    at the non-skewed bench scale (4.20 vs 4.38 s, extra exchange ≈
    dispatch floor). Decision pinned by the planted-skew test.

    ``sigs`` is not pinned: the band window is its one consumer, and
    connected_components' checkpoint of the symmetrized edges runs the
    signature aggregate exactly once."""
    banded = lsh_bandrows(sigs, num_perm, bands)
    w = Window.partitionBy("band_id", "bkey")
    rep = banded.withColumn("rep", F.min("doc_id").over(w))
    return (
        rep.filter(F.col("rep") < F.col("doc_id"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .dropDuplicates()
    )


def lsh_candidates(
    sigs: DataFrame,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    cap: int = LSH_BUCKET_CAP,
    _checkpoint: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) — :func:`lsh_candidate_pairs` plus the
    signature-agreement score: est_jaccard = matching components /
    num_perm, computed by joining each endpoint back to the (checkpointed)
    signature table. The scored frame is what threshold-filtering
    consumers (l2's registry output, l7's cluster stats) want; pure
    connectivity consumers should take the pairs frame directly.

    ``_checkpoint=False`` (round 10) is for PARQUET-BACKED signature
    frames (the persisted-generation path): the source is already a
    durable materialization, so each consumer branch re-reads cheap
    columnar bytes instead of re-running the md5 aggregation — no
    checkpoint needed, and the full plan stays visible to tooling."""
    if _checkpoint:
        sigs = pin_scratch(sigs, "dps_lsh_sigs")
    pairs = lsh_candidate_pairs(sigs, num_perm, bands, cap, _checkpoint=False)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    scored = pairs.join(sa, "doc_a").join(sb, "doc_b")
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(num_perm)
    ).cast("double")
    return scored.select("doc_a", "doc_b", est.alias("est_jaccard"))



def _mh_cand_ctes(
    corpus_sql: str,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    cap: int = LSH_BUCKET_CAP,
) -> str:
    """Shared DuckDB twin of minhash_signatures + lsh_candidates: a CTE
    chain (no leading WITH) from a (doc_id, text) corpus selector down to
    ``cand(doc_a, doc_b, est_jaccard)``, generated for the configured
    (num_perm, bands, cap). Mirrors the Spark path exactly: K-M 2-hash
    permutations, per-band ':'-joined bucket keys, ROW_NUMBER-by-doc_id
    bucket ranks, capped emission (all pairs among the cap smallest, star
    edges from the bucket representative beyond), est_jaccard = matching
    signature components / num_perm."""
    r = num_perm // bands
    mins = ",\n             ".join(
        f"MIN((mh1 + {i} * mh2) % {MH_PRIME}) AS h{i}" for i in range(num_perm)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {j} AS band_id, CONCAT_WS(':', {cols}) AS bkey FROM sig".format(
            j=j,
            cols=", ".join(
                f"CAST(h{j * r + k} AS VARCHAR)" for k in range(r)
            ),
        )
        for j in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    return f"""
    corpus AS ({corpus_sql}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS shingle
      FROM toks,
           LATERAL (SELECT unnest(range(GREATEST(len(t) - 3, 0) + 1)) AS i)
    ),
    bh AS (
      SELECT doc_id,
             {sql_mh_base('shingle', 1)} AS mh1,
             {sql_mh_base('shingle', 13)} AS mh2
      FROM sh
    ),
    sig AS (SELECT doc_id, {mins}
            FROM bh GROUP BY doc_id),
    bandrows AS (
      {band_rows}
    ),
    ranked AS (
      SELECT doc_id, band_id, bkey,
             ROW_NUMBER() OVER (PARTITION BY band_id, bkey ORDER BY doc_id)
               AS rnk
      FROM bandrows
    ),
    rawpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ranked a JOIN ranked b
        ON a.band_id = b.band_id AND a.bkey = b.bkey
       AND a.doc_id < b.doc_id AND a.rnk <= {cap}
      WHERE b.rnk <= {cap} OR a.rnk = 1
    ),
    lshpairs AS (SELECT DISTINCT doc_a, doc_b FROM rawpairs),
    cand AS (
      SELECT p.doc_a, p.doc_b, ({matches}) / {num_perm}.0 AS est_jaccard
      FROM lshpairs p JOIN sig a ON p.doc_a = a.doc_id
                      JOIN sig b ON p.doc_b = b.doc_id
    )"""


def _l2_oracle() -> str:
    return (
        "WITH "
        + _mh_cand_ctes("SELECT doc_id, text FROM documents")
        + "\n    SELECT doc_a, doc_b, est_jaccard FROM cand"
    )


@query("l2_minhash_lsh", oracle=_l2_oracle())
def l2_minhash_lsh(spark, sf_dir):
    """MinHash + LSH near-duplicate candidates (Broder 1997 / Lee et al. 2022).
    Full SQL oracle since round 2: the portable hash family (mh_base, K-M
    permutations) makes the signatures, the banded+capped candidate set, and
    the per-pair similarity estimate bit-reproducible in DuckDB; recall on
    planted near-duplicates stays asserted in tests/test_llm.py."""
    sigs, ck = _chain_signatures(spark, sf_dir)
    return lsh_candidates(sigs, _checkpoint=ck).orderBy("doc_a", "doc_b")


def _chain_signatures(spark, sf_dir: str):
    """The dedup chain's materialization boundary (round 10): when
    ``$SPARK_GRAFT_DEDUP_INDEX`` is set, signatures come from the
    persisted generation (:func:`persisted_signature_table` — durable,
    cross-process, no construction-time Spark job); otherwise the
    in-memory recompute (the no-index fallback). Returns ``(sigs,
    checkpoint_flag)``: the flag tells a multi-consumer caller
    (:func:`lsh_candidates`) whether to pin the frame."""
    import os

    if os.environ.get("SPARK_GRAFT_DEDUP_INDEX"):
        return persisted_signature_table(spark, sf_dir), False
    d = fanout(load(spark, sf_dir, "documents"))  # shingle map on all cores
    return minhash_signatures(d), True


def build_minhash_index(spark, sf_dir: str, index_dir: str) -> None:
    """Materialize the MinHash signature index to parquet: ``signatures/``
    (doc_id, sig: array<bigint>) over the accepted-corpus slice
    (``doc_id % 7 != 2`` — the held-out slice is l66's incoming batch).
    Signatures are 64 x 8 B per document vs the full text — the compact
    artifact a crawl pipeline keeps so no document is ever re-shingled."""
    import os

    old = fanout(load(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 7 != 2
    )
    minhash_signatures(old).write.mode("overwrite").parquet(
        os.path.join(index_dir, "signatures")
    )


@query("l66_minhash_index_persist", oracle=_l2_oracle())
def l66_minhash_index_persist(spark, sf_dir):
    """MinHash signature-index persistence + incremental update (the l62
    lifecycle applied to the dedup tier — the highest-volume index a
    training-data pipeline owns): the accepted corpus's signatures are
    persisted once via :func:`build_minhash_index` under an
    :func:`ensure_index` staleness manifest; an incoming batch (the
    ``doc_id % 7 == 2`` slice) is shingled and signed IN ISOLATION, its
    signatures appended to the loaded index, and banded LSH candidate
    generation runs over the union — so the expensive stage (3-word
    shingling + 64 K-M hash-mins over the text) runs on the DELTA ONLY,
    while the corpus side contributes 512 B/doc of signatures from
    parquet, never its text. The result is the IDENTICAL candidate set to
    l2's full recompute (same oracle, pair-for-pair): persisting
    signatures changes where bytes come from, never what the index means.

    100 TB: re-shingling a petabyte-scale text corpus per crawl snapshot
    is the cost that makes naive dedup inoperable; the signature table is
    ~0.1% of corpus bytes, appends are delta-sized, and the banding/
    pair-gen over the union touches only signatures. Retention of the
    band-bucket cap discipline (l2/l59/l61) carries over unchanged
    because the union feeds the same lsh_candidates machinery.
    Staleness: source-listing fingerprint + format version (a corpus
    rewrite invalidates the signature table wholesale; per-doc
    invalidation under CDC composes via the p17 anti-join pattern)."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l66_mh_{tag}"),
        os.path.join(sf_dir, "documents.parquet"),
        version="mh-v1",
        build=lambda d: build_minhash_index(spark, sf_dir, d),
    )
    old_sigs = spark.read.schema("doc_id bigint, sig array<bigint>").parquet(
        os.path.join(idx, "signatures")
    )
    delta = fanout(load(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 7 == 2
    )
    sigs = old_sigs.unionAll(minhash_signatures(delta))
    return lsh_candidates(sigs).orderBy("doc_a", "doc_b")


_SIG_SCHEMA = "doc_id bigint, sig array<bigint>"


def _stage_minhash_ckpt_state(spark, sf_dir: str, d: str) -> None:
    """Stage l66's world (accepted-corpus signatures + the incoming
    batch's delta signatures as separate tables), run the merge ONCE,
    and write it back as generation ``signatures-g002`` — the staging
    and checkpoint halves of the l74 lifecycle in one build, exactly
    the l70/_stage discipline."""
    import os

    from dask_pipes_spark.session import checkpoint_index_generation

    docs = fanout(load(spark, sf_dir, "documents"))
    minhash_signatures(docs.filter(F.col("doc_id") % 7 != 2)).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "signatures"))
    minhash_signatures(docs.filter(F.col("doc_id") % 7 == 2)).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "delta_sigs"))
    old_sigs = spark.read.schema(_SIG_SCHEMA).parquet(
        os.path.join(d, "signatures")
    )
    delta_sigs = spark.read.schema(_SIG_SCHEMA).parquet(
        os.path.join(d, "delta_sigs")
    )
    # target_files=8, not 1: the signature table is the LARGEST index this
    # engine checkpoints (num_perm bigints per document — ~160 MB at sf1),
    # and a single compacted file caps the probe's scan parallelism at
    # maxPartitionBytes granularity (measured: the 1-file generation probed
    # SLOWER than l66's merge path at sf1; 8 files restore the fan-out).
    # On a cluster this is the file-sizing knob every table format exposes.
    checkpoint_index_generation(
        d,
        old_sigs.unionAll(delta_sigs),
        superseded=["signatures", "delta_sigs"],
        generation="signatures-g002",
        target_files=8,
    )


@query("l74_minhash_index_checkpoint", oracle=_l2_oracle())
def l74_minhash_index_checkpoint(spark, sf_dir):
    """MinHash signature-index write-back (round 9, the r8 verdict's top
    item — the lifecycle cell the dedup tier was missing): l66 appends
    each ingest batch's signatures to the persisted index at PROBE time,
    so every candidate-generation run re-pays the union against an
    ever-growing delta feed. Here the accepted+delta signature tables
    are merged ONCE inside the build and rewritten as generation
    ``signatures-g002`` via :func:`checkpoint_index_generation` (the
    k17/k18 compact→atomic-swap→VACUUM.json→delete protocol applied to
    the dedup tier's state, exactly as l70/l72 applied it to the ANN
    tiers), the superseded signature table and the delta feed are
    vacuumed, and banded LSH candidate generation answers from the
    compacted generation ONLY — no text scan, no union, 512 B/doc of
    parquet (test-pinned on the pre-checkpoint probe frame; the vacuum
    layout and the g002→g003 chain are pinned too).

    Same oracle as l2/l66 (the full from-scratch MinHash-LSH twin): the
    checkpointed candidate set must equal the recompute pair-for-pair —
    a signature lost by the rewrite, doubled by a torn swap, or a delta
    replayed after its vacuum all diverge the hash.

    100 TB: this is the nightly compaction of the highest-volume index a
    training-data pipeline owns — a crawl ingests continuously (l48/k15
    maintain the delta), and without the write-back the probe-side union
    tax and the feed directory both grow without bound; after it, each
    probe is one generation scan and the merge cost is paid once per
    maintenance window, not per query."""
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    idx = ensure_index(
        scratch_path(f"dps_l74_mh_ckpt_{tag}"),
        os.path.join(sf_dir, "documents.parquet"),
        version="mh-ckpt-v1",
        build=lambda d: _stage_minhash_ckpt_state(spark, sf_dir, d),
    )
    sigs = spark.read.schema(_SIG_SCHEMA).parquet(
        os.path.join(idx, "signatures-g002")
    )
    return lsh_candidates(sigs).orderBy("doc_a", "doc_b")


@query(
    "l3_cosine_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, e,
             SQRT(LIST_SUM(LIST_TRANSFORM(e, x -> x * x))) AS nrm
      FROM v
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.e, c.e),
                            p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM n q JOIN n c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 20 = 0
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
)
def l3_cosine_topk(spark, sf_dir):
    """Brute-force top-5 cosine neighbors for a bounded query set (every 20th
    vector). Dot products ride ``zip_with``+``aggregate`` HOFs in codegen;
    similarities are rounded(6) *before* ranking so the top-k boundary is
    tie-broken identically (by neighbor_id) on both engines.

    100 TB path: replace the broadcast crossJoin with LSH/IVF bucketing —
    assign each vector to coarse buckets, equi-join query buckets only
    (REPOSE-style partitioning); same scoring expressions apply unchanged.
    """
    e = fanout(load(spark, sf_dir, "embeddings"))
    dbl = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    n = dbl.withColumn(
        "nrm",
        F.sqrt(F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    q = (
        n.filter(F.col("vec_id") % 20 == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn"))
    )
    dot = F.aggregate(
        F.zip_with("qe", "e", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    pairs = (
        n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
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


@query(
    "l4_text_stats",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs,
           {sql_davg('n_chars')} AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           {sql_davg("LEN(STRING_SPLIT(text, ' '))")} AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def l4_text_stats(spark, sf_dir):
    """Corpus statistics per language — doc counts, char/token lengths (the
    quality-scoring substrate)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        davg(F.size(F.split("text", " "))).alias("avg_tokens"),
    )


@query(
    "l5_word_freq",
    oracle="""
    SELECT token, COUNT(*) AS cnt FROM (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    )
    WHERE token NOT IN ('a', 'the')
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
)
def l5_word_freq(spark, sf_dir):
    """Top-20 token frequencies, stopword-filtered — explode → filter →
    count → TakeOrderedAndProject (O(k) driver memory)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(~F.col("token").isin("a", "the"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


@query(
    "l6_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tf)
           GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, tfidf FROM (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                ORDER BY ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 6) DESC,
                         tf.token) AS rn
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def l6_tfidf(spark, sf_dir):
    """TF-IDF top-3 terms per document. df (document frequency) is a
    broadcast-sized side table; scores are rounded(6) before ranking so the
    per-doc top-3 boundary tie-breaks identically (by token) on both engines."""
    d = load(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = d.count()  # fit-style bounded collect (one scalar)
    score = F.round(
        F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 6
    )
    scored = tf.join(F.broadcast(df_tbl), "token").select(
        "doc_id", "token", score.alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_L7_ORACLE = (
    "WITH "
    + _mh_cand_ctes("SELECT doc_id, text FROM documents")
    + """
    SELECT d1.lang AS lang_a,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN d1.source = d2.source THEN 1 ELSE 0 END)
                AS BIGINT) AS same_source_pairs,
           FLOOR(AVG(est_jaccard) * 10000 + 0.5) / 10000 AS avg_est_jaccard
    FROM cand
    JOIN documents d1 ON doc_a = d1.doc_id
    JOIN documents d2 ON doc_b = d2.doc_id
    GROUP BY 1
    """
)


@query("l7_dup_cluster_stats", oracle=_L7_ORACLE)
def l7_dup_cluster_stats(spark, sf_dir):
    """Near-dup candidate analytics: join l2's pairs back to documents and
    break down by language/source agreement — the triage view a dedup
    pipeline ships to operators. Full oracle since round 2 (l2's portable
    candidates; est_jaccard values are dyadic k/32 rationals, so both
    engines average them exactly before the FLOOR quantization)."""
    d = fanout(load(spark, sf_dir, "documents"))
    pairs = l2_minhash_lsh(spark, sf_dir)
    da = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
    )
    db = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
    )
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy("lang_a")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("source_a") == F.col("source_b")).cast("long")).alias(
                "same_source_pairs"
            ),
            (
                F.floor(F.avg("est_jaccard") * 10000 + F.lit(0.5)) / 10000
            ).alias("avg_est_jaccard"),
        )
        .orderBy("lang_a")
    )


@query(
    "l8_embedding_agg",
    oracle="""
    SELECT label, pos - 1 AS pos,
           CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*) AS centroid
    FROM (
      SELECT label, UNNEST(embedding) AS val,
             GENERATE_SUBSCRIPTS(embedding, 1) AS pos
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def l8_embedding_agg(spark, sf_dir):
    """Per-label centroids (element-wise mean) in long form (label, pos,
    centroid): posexplode → decimal-exact mean per (label, dimension). Long
    form keeps the oracle scalar; re-assembly to array is one
    ``array_agg(... ORDER BY pos)`` away when a vector is needed."""
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    return exploded.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("centroid")
    )


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 20) -> DataFrame:
    """Connected components by min-label propagation — the clustering step a
    real near-dedup pipeline needs between "candidate pairs" and "purge
    list" (Lee et al. 2022 group duplicates exactly this way).

    Iterative Spark: each hop every node adopts the smallest label among
    itself and its neighbors; converges in O(graph diameter) hops (near-dup
    clusters are tiny cliques → 2-3 hops). ``localCheckpoint`` truncates
    the lineage so the plan does not grow with iterations (the standard
    Spark iterative-algorithm discipline; Pregel-style frameworks do the
    same). Deterministic: labels are min() aggregates, no RNG.

    Plan:
    - ``sym`` holds both directions of every edge, checkpointed once
      with no exchange of its own. Its checkpoint job runs the whole
      upstream (for l18: shingles, MinHash, LSH bands).
    - Labels start one hop in: ``least(s, min(d))`` per ``s`` over
      ``sym``, which also fixes the node set (the edge endpoints).
    - A hop is ``sym ⋈ labels`` on s, emitting s's label both to d and
      back to s itself, → ``groupBy(node).min(label)``. The row back to s
      acts as a self-loop, so every node keeps its own label with no left
      join back to the old labels, and the node set never changes.
    - Each round runs two hops, then one checkpoint job (the first round
      also computes the initial labels). The second hop also keeps
      ``prev``, the node's label before that hop (the min over its
      self-loop rows alone). Labels only decrease, so no node with
      ``label < prev`` means the last hop changed nothing: that is the
      fixpoint. The count rides the checkpoint job through ``observe``
      (:func:`_observed`).

    The checkpointed blocks do NOT keep their hash partitioning under
    AQE (on in every session, see ``configure_session``): the checkpoint
    records the adaptive plan's ``UnknownPartitioning(0)`` as the
    ``LogicalRDD``'s partitioning on PySpark 4.1.2 (SCALING.md). Each hop
    therefore re-exchanges ``sym`` and the labels (or broadcasts the
    smaller side); pre-partitioning ``sym`` buys nothing. ``sym`` is not
    deduplicated either: the star edges arrive distinct, and repeated
    rows only cost join probes, since each hop's partial min collapses
    them before its exchange. At 100 TB swap localCheckpoint for reliable
    checkpoint() (executor loss).

    ``max_iter`` counts DOUBLE-HOP rounds (up to ``2 * max_iter`` hops).
    Exhausting it without convergence returns the current labels and logs
    a warning — callers on adversarial graphs (diameter > 2·max_iter)
    should raise it.

    Returns (node, label) over the edge endpoints, label = min node id
    reachable.
    """
    # both directions from ONE pass over the edge frame — a union of two
    # selects executes the (possibly expensive) upstream lineage twice
    # (for p4 the all-pairs cosine join)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
                )
            ).alias("p")
        )
        .select("p.s", "p.d")
        .localCheckpoint()
    )
    # hop 1 over self-labels: min(node, neighbors); also fixes the node set
    labels = sym.groupBy(F.col("s").alias("node")).agg(
        F.least(F.col("s"), F.min("d")).alias("label")
    )

    def _hop(lbl: DataFrame) -> DataFrame:
        # each joined edge row sends s's label to d and back to s itself
        # (``own``), so every node keeps its label with no join back; the
        # partial min collapses the repeated own rows before the exchange
        own = F.array(
            F.struct(F.col("d").alias("node"), F.lit(False).alias("own")),
            F.struct(F.col("s").alias("node"), F.lit(True).alias("own")),
        )
        # name-based join: sym appears twice per round's plan, so no
        # cross-frame Column references (DeduplicateRelations-safe)
        return (
            sym.join(lbl.select(F.col("node").alias("s"), "label"), "s")
            .select(F.explode(own).alias("t"), "label")
            .groupBy(F.col("t.node").alias("node"))
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("t.own"), F.col("label"))).alias("prev"),
            )
        )

    converged = False
    for _ in range(max_iter):
        obs = Observation()
        labels = (
            _hop(_hop(labels))
            .observe(obs, F.count_if(F.col("label") < F.col("prev")).alias("n"))
            .localCheckpoint()  # truncate lineage — plan stays O(1)/round
        )
        if not _observed(obs, labels):  # last hop changed nothing → fixpoint
            converged = True
            break
    if not converged:
        import logging

        logging.getLogger(__name__).warning(
            "connected_components: no fixpoint after %d double-hop rounds "
            "(%d hops); returning current labels — raise max_iter for "
            "graphs of diameter > %d",
            max_iter, 2 * max_iter, 2 * max_iter,
        )
    return labels.select("node", "label")


#: How long :func:`_observed` waits for an observation before it counts
#: the checkpointed frame itself.
_OBSERVE_WAIT_S = 30.0


def _observed(obs: Observation, labels: DataFrame) -> int:
    """connected_components' changed-node count for one round.

    The observation normally fires with the checkpoint job that already
    ran. ``Observation.get`` blocks on the JVM ``getRow()`` with no
    timeout, so wait on the JVM observation's future for at most
    ``_OBSERVE_WAIT_S`` instead; if it has not fired, count over the
    checkpointed frame (in-memory blocks, one more job)."""
    jvm = labels.sparkSession.sparkContext._jvm
    wait = jvm.scala.concurrent.duration.FiniteDuration(
        int(_OBSERVE_WAIT_S * 1000), jvm.java.util.concurrent.TimeUnit.MILLISECONDS
    )
    try:
        jvm.scala.concurrent.Await.ready(obs._jo.future(), wait)
    except Py4JJavaError:  # TimeoutException: the observation never fired
        return labels.filter(F.col("label") < F.col("prev")).count()
    return obs.get["n"]


_L18_ORACLE = (
    "WITH RECURSIVE "
    + _mh_cand_ctes("SELECT doc_id, text FROM documents")
    + """,
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b, doc_a FROM cand
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
    SELECT c.label AS cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           ARRAY_TO_STRING(LIST_SORT(LIST(c.node)), ',') AS members
    FROM comp c JOIN documents d ON c.node = d.doc_id
    GROUP BY c.label HAVING COUNT(*) >= 2
    """
)


@query("l18_dup_components", oracle=_L18_ORACLE)
def l18_dup_components(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash-LSH candidate pairs (l2) →
    connected components → per-cluster stats + the representative (min
    doc_id) every other member would be purged in favor of. The piece
    between pair generation and an actionable dedup decision; tests verify
    the labeling against a driver-side union-find on the same edges, and
    since round 2 a full SQL oracle re-derives the clustering in DuckDB
    with a recursive-CTE transitive closure over the same (portable-hash)
    candidate pairs."""
    # star-edge frame (round 12): components need connectivity only, and
    # the per-bucket rep→member star set has the SAME transitive closure
    # as the capped pair set (see lsh_star_edges) — skips the self-join,
    # the dropDuplicates exchange AND the two signature join-backs;
    # signatures come from the persisted generation when
    # $SPARK_GRAFT_DEDUP_INDEX is set, else from connected_components'
    # edge checkpoint, which runs the MinHash aggregate once
    sigs, _ = _chain_signatures(spark, sf_dir)
    return _dup_clusters(spark, sf_dir, sigs)


def _dup_clusters(spark, sf_dir: str, sigs: DataFrame) -> DataFrame:
    """l18/l80's tail: star edges → components → per-cluster stats."""
    pairs = lsh_star_edges(sigs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), "lang", "source"
    )

    def n_distinct(c: str) -> F.Column:
        # COUNT(DISTINCT) twins (NULLs skipped too): two countDistinct plan
        # an Expand with a second exchange, the sets ride the one groupBy
        return F.size(F.collect_set(c)).cast("bigint")

    return (
        comp.join(docs, "node")
        .groupBy(F.col("label").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            n_distinct("source").alias("n_sources"),
            n_distinct("lang").alias("n_langs"),
            # Comma-joined string, not a raw array: the harness canonicalizer
            # cannot hash ndarray cells (d10 discipline).
            F.array_join(
                F.sort_array(F.collect_list("node")).cast("array<string>"), ","
            ).alias("members"),
        )
        .filter(F.col("cluster_size") >= 2)
    )


def persisted_signature_table(spark, sf_dir: str) -> DataFrame:
    """Full-corpus MinHash signature table as a persisted GENERATION
    (round 10, the r9 verdict's item 5): the dedup chain's natural
    materialization boundary made explicit. Built once per source
    fingerprint under :func:`ensure_index` (checkpoint-born as
    ``signatures-g001``, 8 files — the l74 file-sizing discipline) and
    read back as parquet, so every chain consumer branch re-reads
    512 B/doc of columnar bytes instead of re-running the shingle+md5
    aggregation — the job ``lsh_candidate_pairs``' eager localCheckpoint
    otherwise exists to prevent, now durable, shareable across processes
    (``$SPARK_GRAFT_SCRATCH_ROOT``), and executor-loss-tolerant.

    100 TB: this IS the deployment default — the signature table is the
    artifact a crawl pipeline keeps (l66), and chains that ride it leave
    localCheckpoint as the no-index fallback only."""
    import os

    from dask_pipes_spark.session import (
        checkpoint_index_generation,
        head_generations,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    def _build(d: str) -> None:
        docs = fanout(load(spark, sf_dir, "documents"))
        checkpoint_index_generation(
            d,
            minhash_signatures(docs.select("doc_id", "text")),
            superseded=[],
            generation="signatures-g001",
            target_files=8,
        )

    idx = ensure_index(
        scratch_path(f"dps_sigfull_{tag}"),
        os.path.join(sf_dir, "documents.parquet"),
        version="sig-full-v1",
        build=_build,
    )
    head = head_generations(idx)["signatures-"]
    return spark.read.schema(_SIG_SCHEMA).parquet(os.path.join(idx, head))


@query("l80_dedup_chain_persisted", oracle=_L18_ORACLE)
def l80_dedup_chain_persisted(spark, sf_dir):
    """The l18 dedup chain served from the persisted signature generation
    (round 10 — the materialization-boundary default the r9 verdict
    asked for): candidate pairs, components, and cluster stats all read
    the ``signatures-g001`` generation via
    :func:`persisted_signature_table`; no text is ever re-shingled (the
    parquet generation IS the signature boundary), so connected
    components' edge checkpoint re-reads 512 B/doc of columnar bytes.
    Same oracle as l18: the persisted-boundary chain must equal the
    from-scratch recompute pair-for-pair and cluster-for-cluster."""
    # star edges (round 12): identical components, no self-join — see l18
    return _dup_clusters(spark, sf_dir, persisted_signature_table(spark, sf_dir))


_PLANT_OFFSET = 1 << 40  # planted-dup id offset: 2**40 sits above any real doc_id
# (ADVICE r2: the old 1e6 offset collides once a corpus has doc_ids >= 1M);
# the oracle SQL hard-codes the same 1099511627776 constant


def _l56_oracle() -> str:
    """DuckDB twin of l56: the l2 signature/banding/cap SQL re-run over the
    PLANTED corpus (originals ∪ '... planted'-suffixed copies of every 5th
    doc), then rolled up into the retrieval-quality metrics."""
    planted_corpus = """SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1099511627776, text || ' planted' FROM documents
      WHERE doc_id % 5 = 0"""
    return f"""
    WITH {_mh_cand_ctes(planted_corpus)},
    planted AS (SELECT COUNT(*) AS n_planted FROM documents WHERE doc_id % 5 = 0)
    SELECT CAST(p.n_planted AS BIGINT) AS n_planted,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN c.doc_b = c.doc_a + 1099511627776 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_recovered,
           FLOOR(SUM(CASE WHEN c.doc_b = c.doc_a + 1099511627776 THEN 1 ELSE 0 END)
                 / CAST(p.n_planted AS DOUBLE) * 10000 + 0.5) / 10000
             AS recall,
           FLOOR(SUM(CASE WHEN c.doc_b = c.doc_a + 1099511627776 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) * 10000 + 0.5) / 10000
             AS precision,
           FLOOR(CAST(SUM(CASE WHEN c.doc_b = c.doc_a + 1099511627776
                          THEN CAST(c.est_jaccard AS DECIMAL(18,10)) END)
                      AS DOUBLE)
                 / SUM(CASE WHEN c.doc_b = c.doc_a + 1099511627776 THEN 1 ELSE 0 END)
                 * 10000 + 0.5) / 10000 AS avg_recovered_jaccard
    FROM cand c CROSS JOIN planted p
    GROUP BY p.n_planted
    """


@query("l56_minhash_eval", oracle=_l56_oracle())
def l56_minhash_eval(spark, sf_dir):
    """Dedup-quality evaluation harness, in-engine: plant a known near-dup
    for every 5th document (text + one appended token — a 2-3 shingle
    perturbation), run the PRODUCTION l2 MinHash-LSH machinery over the
    planted corpus, and score it: recall (planted pairs recovered by the
    banding), precision (recovered / all candidates), and the mean
    signature-estimated Jaccard of the recovered pairs. This is the
    acceptance test a pipeline runs whenever it retunes (num_perm, bands) —
    the s-curve math predicts recall; this measures it on real text. The
    whole evaluation — planting, signatures, banding, metrics — is
    recomputed by the DuckDB oracle (portable mh_hash discipline), so the
    quality numbers themselves are correctness-gated.

    100 TB: the planted corpus is 1.2× the input (a fraction suffices in
    production); the heavy steps are l2's own (shingle explode + one
    groupBy + band equi-join), so evaluation cost tracks dedup cost, and
    the metrics rollup is a single bounded aggregate. Short docs hit the
    LSH s-curve's low end (few shingles → lower Jaccard → missed pairs):
    that is signal, not noise — exactly what the recall number is for."""
    d = fanout(load(spark, sf_dir, "documents"))
    planted = d.select("doc_id", "text").unionAll(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"),
            F.concat("text", F.lit(" planted")).alias("text"),
        )
    )
    cand = lsh_candidates(minhash_signatures(planted))
    n_planted = d.filter(F.col("doc_id") % 5 == 0).count()
    rec = F.when(F.col("doc_b") == F.col("doc_a") + _PLANT_OFFSET, 1).otherwise(0)
    q4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return cand.agg(
        F.lit(n_planted).cast("bigint").alias("n_planted"),
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(rec).cast("bigint").alias("n_recovered"),
        q4(F.sum(rec) / F.lit(float(n_planted))).alias("recall"),
        q4(F.sum(rec) / F.count(F.lit(1)).cast("double")).alias("precision"),
        q4(
            F.sum(
                F.when(
                    F.col("doc_b") == F.col("doc_a") + _PLANT_OFFSET,
                    F.col("est_jaccard").cast("decimal(18,10)"),
                )
            ).cast("double")
            / F.sum(rec)
        ).alias("avg_recovered_jaccard"),
    )


def _l59_oracle(cap: int = LSH_BUCKET_CAP) -> str:
    """DuckDB twin of l59: bucket sizes from the shared banding CTEs, then
    one aggregate computing the uncapped/capped pair-emission accounting
    with the same LEAST/GREATEST formula and integer division."""
    unc = "(m * (m - 1)) // 2"
    capd = (
        f"(LEAST(m, {cap}) * (LEAST(m, {cap}) - 1)) // 2"
        f" + GREATEST(m - {cap}, 0)"
    )
    return f"""
    WITH {_mh_cand_ctes('SELECT doc_id, text FROM documents')},
    bsz AS (SELECT band_id, bkey, COUNT(*) AS m FROM bandrows GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi_buckets,
           CAST(MAX(m) AS BIGINT) AS max_bucket,
           CAST(SUM({unc}) AS BIGINT) AS pairs_uncapped,
           CAST(SUM({capd}) AS BIGINT) AS pairs_capped,
           FLOOR(CAST(SUM({capd}) AS DOUBLE) / SUM({unc}) * 10000 + 0.5)
             / 10000 AS emit_ratio
    FROM bsz
    """


@query("l59_lsh_bucket_audit", oracle=_l59_oracle())
def l59_lsh_bucket_audit(spark, sf_dir):
    """LSH bucket-skew audit — the observability twin of the round-4
    production guard: per band bucket sizes rolled into one row of
    pair-emission accounting (bucket count, multi-member buckets, the
    largest bucket, pairs an UNCAPPED all-pairs emission would produce vs
    pairs the ``LSH_BUCKET_CAP`` policy actually emits, and their ratio).
    This is the dashboard number a dedup pipeline watches for viral
    duplicates: a plummeting emit_ratio means some bucket went quadratic
    and the cap is earning its keep (Lee et al. 2022 §4 monitor the same
    quantity as "cluster size distribution"). Fully SQL-oracled — the
    DuckDB twin re-derives signatures, banding, bucket sizes and both
    pair-count formulas, so the audit itself is correctness-gated.

    100 TB: one groupBy at (band, bucket) grain — the same shuffle
    lsh_candidates already pays — then a single bounded aggregate; no
    pair materialization at all, so the audit is strictly cheaper than
    the dedup it monitors."""
    cap = LSH_BUCKET_CAP
    d = fanout(load(spark, sf_dir, "documents"))
    buckets = (
        lsh_bandrows(minhash_signatures(d))
        .groupBy("band_id", "bkey")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    unc = F.expr("(m * (m - 1)) DIV 2")
    capd = F.expr(
        f"(least(m, {cap}) * (least(m, {cap}) - 1)) DIV 2"
        f" + greatest(m - {cap}, 0)"
    )
    return buckets.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.count_if(F.col("m") >= 2).cast("bigint").alias("n_multi_buckets"),
        F.max("m").cast("bigint").alias("max_bucket"),
        F.sum(unc).cast("bigint").alias("pairs_uncapped"),
        F.sum(capd).cast("bigint").alias("pairs_capped"),
        (
            F.floor(
                F.try_divide(F.sum(capd).cast("double"), F.sum(unc)) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("emit_ratio"),
    )


_L61_CAPS = (2, 4, 8, 16, 32, 64)


def _l61_oracle(caps=_L61_CAPS) -> str:
    """DuckDB twin of l61: bucket sizes from the shared banding CTEs CROSS
    JOINed with the cap grid, same LEAST/GREATEST capped-pair formula."""
    values = ", ".join(f"({c})" for c in caps)
    capd = (
        "(LEAST(m, cap) * (LEAST(m, cap) - 1)) // 2"
        " + GREATEST(m - cap, 0)"
    )
    return f"""
    WITH {_mh_cand_ctes('SELECT doc_id, text FROM documents')},
    bsz AS (SELECT band_id, bkey, COUNT(*) AS m FROM bandrows GROUP BY 1, 2),
    grid AS (SELECT * FROM (VALUES {values}) AS t(cap))
    SELECT CAST(cap AS INT) AS cap,
           CAST(SUM({capd}) AS BIGINT) AS pairs_capped,
           FLOOR(CAST(SUM({capd}) AS DOUBLE)
                 / SUM((m * (m - 1)) // 2) * 10000 + 0.5) / 10000
             AS emit_ratio
    FROM bsz CROSS JOIN grid
    GROUP BY cap
    """


@query("l61_cap_sensitivity", oracle=_l61_oracle())
def l61_cap_sensitivity(spark, sf_dir):
    """Cap-tuning table for the LSH production guard: for each candidate
    ``LSH_BUCKET_CAP`` value (2..64), how many pairs the capped emission
    policy would produce and what fraction of the uncapped pair volume that
    is — the one-query answer to "what cap should THIS corpus run with".
    Read with l59 (the current cap's accounting) and l56 (recall under the
    current cap); together they are the tuning loop Lee et al. 2022 run
    when sizing dedup for a new crawl. Fully SQL-oracled via the shared
    banding CTEs.

    100 TB: same (band, bucket) groupBy lsh_candidates already pays, then
    a 6-row cap grid joined onto the bounded bucket-histogram frame — the
    sensitivity sweep costs one aggregate, not six dedup runs."""
    d = fanout(load(spark, sf_dir, "documents"))
    buckets = (
        lsh_bandrows(minhash_signatures(d))
        .groupBy("band_id", "bkey")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    grid = buckets.withColumn(
        "cap", F.explode(F.array(*[F.lit(c) for c in _L61_CAPS]))
    )
    capd = F.expr(
        "(least(m, cap) * (least(m, cap) - 1)) DIV 2 + greatest(m - cap, 0)"
    )
    unc = F.expr("(m * (m - 1)) DIV 2")
    return grid.groupBy("cap").agg(
        F.sum(capd).cast("bigint").alias("pairs_capped"),
        (
            F.floor(
                F.try_divide(F.sum(capd).cast("double"), F.sum(unc)) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("emit_ratio"),
    )
