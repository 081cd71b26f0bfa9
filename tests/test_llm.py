"""Group L behavioral tests: MinHash-LSH recall on planted near-duplicates,
exact-dedup correctness, brute-force cosine sanity (SURVEY §7.4)."""

from pyspark.sql import Observation
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, jobs_run


def test_minhash_finds_planted_near_dups(spark):
    """Plant near-duplicates (one token appended) for 20 docs; LSH candidates
    must recover ≥90% of the planted pairs (s≈0.9 ≫ the 0.59 s-curve knee)."""
    from dask_pipes_spark.operators.llm_ops import lsh_candidates, minhash_signatures

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.size(F.split("text", " ")) >= 20  # long docs: one extra token ⇒ J≈0.9+
    ).limit(20)
    planted = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planted")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    cands = lsh_candidates(minhash_signatures(corpus)).collect()
    found = {(r.doc_a, r.doc_b) for r in cands}
    expected = {(r.doc_id, r.doc_id + 1_000_000) for r in docs.collect()}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.9, f"recall={recall}, found={len(found & expected)}/{len(expected)}"
    # est_jaccard should be high for planted pairs
    est = {(r.doc_a, r.doc_b): r.est_jaccard for r in cands}
    planted_ests = [est[p] for p in (found & expected)]
    assert min(planted_ests) > 0.5


def test_exact_dedup_keeps_min_docid(spark, registry):
    queries, _ = registry
    out = queries["l1_exact_dedup"](spark, SF_SMOKE)
    # re-derive independently
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_distinct = docs.select("text").distinct().count()
    assert out.count() == n_distinct
    assert out.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_cosine_topk_self_similarity_excluded_and_sorted(spark, registry):
    queries, _ = registry
    out = queries["l3_cosine_topk"](spark, SF_SMOKE).collect()
    per_q: dict[int, list[float]] = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        assert -1.0001 <= r.cos_sim <= 1.0001
        per_q.setdefault(r.query_id, []).append(r.cos_sim)
    for sims in per_q.values():
        assert len(sims) == 5
        assert sims == sorted(sims, reverse=True)


def test_connected_components_match_union_find(spark):
    """Spark min-label propagation vs a driver-side union-find on the same
    edges — labels must induce identical partitions, with the min member as
    representative."""
    from dask_pipes_spark.operators.llm_ops import (
        connected_components,
        lsh_candidates,
        minhash_signatures,
    )
    from dask_pipes_spark.session import load

    d = load(spark, SF_SMOKE, "documents")
    edges = lsh_candidates(minhash_signatures(d)).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edge_rows = [(r.src, r.dst) for r in edges.collect()]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edge_rows:
        union(a, b)
    want = {n: find(n) for n in parent}
    # path-compress fully
    want = {n: find(n) for n in parent}

    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == want


def test_l59_l61_cap_accounting_invariants(spark, registry):
    """The bucket-audit accounting must be internally consistent: capped
    pairs never exceed uncapped, the emit ratio is in (0, 1], l61's curve
    is nondecreasing in cap, and at the largest grid cap (>= the fixture's
    max bucket) the capped count equals the uncapped count."""
    queries, _ = registry
    a = queries["l59_lsh_bucket_audit"](spark, SF_SMOKE).collect()[0]
    assert a.n_multi_buckets <= a.n_buckets
    assert a.pairs_capped <= a.pairs_uncapped
    if a.pairs_uncapped:
        assert 0 < a.emit_ratio <= 1
    rows = sorted(
        queries["l61_cap_sensitivity"](spark, SF_SMOKE).collect(),
        key=lambda r: r.cap,
    )
    counts = [r.pairs_capped for r in rows]
    assert counts == sorted(counts)  # monotone in cap
    if a.max_bucket <= rows[-1].cap:
        assert rows[-1].pairs_capped == a.pairs_uncapped
    # the registered cap's row agrees with l59's accounting
    from dask_pipes_spark.operators.llm_ops import LSH_BUCKET_CAP

    by_cap = {r.cap: r for r in rows}
    if LSH_BUCKET_CAP in by_cap:
        assert by_cap[LSH_BUCKET_CAP].pairs_capped == a.pairs_capped


def test_l60_zipf_slope_is_zipfian_on_fixture(spark, registry):
    """Natural-ish fixture text must fit a negative log-log slope with a
    meaningful r2; the rank cut never exceeds the vocabulary size."""
    queries, _ = registry
    r = queries["l60_zipf_slope"](spark, SF_SMOKE).collect()[0]
    assert r.n_ranks <= r.vocab_size
    assert r.zipf_slope < 0
    assert 0 <= r.r2 <= 1


def _components_of(labels_df) -> dict[int, frozenset]:
    """node -> frozenset of its component's members, from a (node, label)
    frame — partition-equality comparisons ignore WHICH label names the
    component (though min-label propagation pins it to the min member)."""
    groups: dict[int, set] = {}
    for r in labels_df.collect():
        groups.setdefault(r.label, set()).add(r.node)
    return {n: frozenset(m) for m in groups.values() for n in m}


def test_star_edges_components_match_capped_pairs(spark):
    """Round-12 equivalence claim behind the l18/l80/bench fast path: the
    per-bucket rep->member star set must induce EXACTLY the capped pair
    set's connected components — on the fixture corpus AND on a planted
    adversarial graph with a viral bucket (> LSH_BUCKET_CAP members, so
    the cap's star-edge branch is live) bridged to a second cluster by a
    doc whose signature straddles both bucket families."""
    from pyspark.sql import types as T

    from dask_pipes_spark.operators.llm_ops import (
        NUM_PERM,
        connected_components,
        lsh_candidate_pairs,
        lsh_star_edges,
        minhash_signatures,
    )
    from dask_pipes_spark.session import load

    # fixture corpus: real signatures
    sigs = minhash_signatures(load(spark, SF_SMOKE, "documents"))
    pairs = lsh_candidate_pairs(sigs, _checkpoint=False)
    stars = lsh_star_edges(sigs)
    comp_pairs = _components_of(
        connected_components(pairs, "doc_a", "doc_b")
    )
    comp_stars = _components_of(
        connected_components(stars, "doc_a", "doc_b")
    )
    assert comp_pairs == comp_stars and comp_pairs

    # planted adversarial graph: 30 identical sigs (viral bucket, far
    # beyond the cap of 8), 6 identical sigs elsewhere, one bridge doc
    # whose first 4 bands come from the viral family and last 4 from the
    # small family -> ONE merged component must contain all 37 docs.
    s1 = [10_000 + i for i in range(NUM_PERM)]
    s2 = [20_000 + i for i in range(NUM_PERM)]
    bridge = s1[: NUM_PERM // 2] + s2[NUM_PERM // 2 :]
    rows = (
        [(i, s1) for i in range(30)]
        + [(100 + i, s2) for i in range(6)]
        + [(50, bridge)]
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    planted = spark.createDataFrame(rows, schema)
    p_pairs = lsh_candidate_pairs(planted, _checkpoint=False)
    p_stars = lsh_star_edges(planted)
    cp = _components_of(connected_components(p_pairs, "doc_a", "doc_b"))
    cs = _components_of(connected_components(p_stars, "doc_a", "doc_b"))
    assert cp == cs
    everyone = frozenset(list(range(30)) + [50] + [100 + i for i in range(6)])
    assert cp[0] == everyone
    # the DISTINCT star set is a strict subset of the capped pair set on
    # the viral bucket (every star edge is a rank-1 capped pair; the cap's
    # all-pairs branch emits edges the star set never carries)
    distinct_stars = {(r.doc_a, r.doc_b) for r in p_stars.distinct().collect()}
    pair_set = {(r.doc_a, r.doc_b) for r in p_pairs.collect()}
    assert distinct_stars < pair_set
    # round-13 skew decision pin: the star frame dedups its cross-band
    # duplicates BEFORE the CC symmetrize exchange (a 30-copy viral
    # bucket emits its rep->member edges in all 8 bands; the emitted
    # frame must already be duplicate-free so only distinct edges ride
    # into every downstream shuffle — the measured-winning shape under
    # planted skew, see lsh_star_edges' docstring)
    star_rows = [(r.doc_a, r.doc_b) for r in p_stars.collect()]
    assert len(star_rows) == len(set(star_rows))


def test_connected_components_long_path_converges(spark):
    """Worst case for the round-12 double-hop loop: a 17-node path graph
    (diameter 16) presented as shuffled edges. Convergence must reach the
    single-hop fixpoint — every node labeled with the path's minimum —
    exercising multiple double-hop iterations plus the final no-change
    detection round."""
    import random

    from dask_pipes_spark.operators.llm_ops import connected_components

    nodes = list(range(100, 117))
    edges = [(nodes[i], nodes[i + 1]) for i in range(len(nodes) - 1)]
    rnd = random.Random(7)
    rnd.shuffle(edges)
    df = spark.createDataFrame(
        [(a, b) if i % 2 else (b, a) for i, (a, b) in enumerate(edges)],
        "src long, dst long",
    )
    got = {r.node: r.label for r in connected_components(df).collect()}
    assert got == {n: 100 for n in nodes}


#: Spark jobs of one warm ``l18_dup_components`` build + collect on
#: SF_SMOKE: 5 for connected_components' edge checkpoint (fan-out scan,
#: MinHash aggregate, band window, star dedup, checkpoint), 6 for its one
#: round (initial labels, two hops with one broadcast each, checkpoint) and
#: 3 for the cluster stats.
L18_SMOKE_JOBS = 14


def test_l18_dup_components_job_count(spark, registry):
    """The dedup chain runs no job that produces nothing: no schema
    inference on a warm load, no signature pin, no label join-back."""
    queries, _ = registry
    queries["l18_dup_components"](spark, SF_SMOKE).collect()  # warm
    n = jobs_run(
        spark, lambda: queries["l18_dup_components"](spark, SF_SMOKE).collect()
    )
    assert n == L18_SMOKE_JOBS


class _SilentObservation(Observation):
    """An observation that is never attached, so it never fires."""

    def _on(self, df, *exprs):
        self._jvm = df._sc._jvm
        self._jo = self._jvm.org.apache.spark.sql.Observation()
        return df


def test_connected_components_survives_unfired_observation(spark, monkeypatch):
    """The convergence read must not block forever when the observation
    never fires: after a bounded wait connected_components counts the
    checkpointed round itself and still returns exact labels. CC runs in
    a worker thread so a hang fails this test instead of the suite."""
    import threading

    from dask_pipes_spark.operators import llm_ops

    monkeypatch.setattr(llm_ops, "Observation", _SilentObservation)
    monkeypatch.setattr(llm_ops, "_OBSERVE_WAIT_S", 0.2)
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (12, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out: dict = {}

    def run():
        out["labels"] = {
            r.node: r.label for r in llm_ops.connected_components(df).collect()
        }

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(timeout=180)
    assert not worker.is_alive(), "connected_components blocked on its observation"
    want = {n: 1 for n in range(1, 7)}
    want.update({10: 10, 11: 10, 12: 10})
    assert out["labels"] == want
