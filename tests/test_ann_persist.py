"""ANN index persistence (round 7): the persisted-index probe paths (l62
IVF, l63 PQ) must (a) return exactly the rebuild paths' answers and (b)
carry NO training stage in their plans — build-once → load → probe is the
contract. Plus unit tests for the ensure_index build-once/staleness
lifecycle helper."""

import json
import os
import re

import pytest

from tests.conftest import SF_SMOKE


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().toString()


def test_l62_equals_l12_rebuild(spark):
    """The persisted IVF index answers the probe identically to the
    per-query rebuild path — pair-for-pair."""
    from dask_pipes_spark.operators.llm_ext import (
        l12_ivf_topk,
        l62_ann_index_persist,
    )

    a = _rowset(l12_ivf_topk(spark, SF_SMOKE))
    b = _rowset(l62_ann_index_persist(spark, SF_SMOKE))
    assert a, "probe result must be non-empty at sf0.001"
    assert a == b


def test_l62_probe_plan_has_no_training(spark):
    """The l62 plan must be pure probe: no centroid training (posexplode /
    decimal-mean aggregation) and no embeddings scan at all — both the
    codebook and the query vectors come from the persisted index."""
    from dask_pipes_spark.operators.llm_ext import l62_ann_index_persist

    plan = _plan(l62_ann_index_persist(spark, SF_SMOKE))
    assert "posexplode" not in plan
    assert "decimal(28,12)" not in plan.lower()
    assert plan.count("dps_l62_ivf") >= 1, "probe must scan the persisted index"
    assert not re.search(r"embeddings\.parquet", plan), (
        "probe must not rescan the corpus"
    )


def test_l63_equals_l55_rebuild(spark):
    """The persisted PQ index (codebooks + codes) answers the ADC probe
    identically to the train-and-encode-per-query path."""
    from dask_pipes_spark.operators.vectors import (
        l55_pq_topk,
        l63_pq_index_persist,
    )

    a = _rowset(l55_pq_topk(spark, SF_SMOKE))
    b = _rowset(l63_pq_index_persist(spark, SF_SMOKE))
    assert a, "probe result must be non-empty at sf0.001"
    assert a == b


def test_l63_probe_plan_has_no_lloyd(spark):
    """The l63 plan must contain no Lloyd stage (the rebuild path's
    localCheckpoint surfaces as an ExistingRDD scan) and read embeddings
    exactly once — the query slice; the corpus representation is the
    persisted codes table."""
    from dask_pipes_spark.operators.vectors import l63_pq_index_persist

    plan = _plan(l63_pq_index_persist(spark, SF_SMOKE))
    assert "ExistingRDD" not in plan, "Lloyd checkpoint leaked into the probe"
    assert plan.count("dps_l63_pq") >= 1, "probe must scan the persisted index"
    assert len(re.findall(r"embeddings\.parquet", plan)) == 1


def test_ensure_index_builds_once_and_detects_staleness(tmp_path):
    """Lifecycle contract: fresh manifest → no rebuild; source mtime/size
    change → rebuild; version bump → rebuild; failed build → no manifest →
    next call rebuilds."""
    from dask_pipes_spark.session import ensure_index

    src = tmp_path / "corpus.parquet"
    src.write_bytes(b"v1")
    idx = str(tmp_path / "index")
    calls = []

    def build(d):
        os.makedirs(d, exist_ok=True)
        calls.append(d)

    ensure_index(idx, str(src), "v1", build)
    ensure_index(idx, str(src), "v1", build)
    assert len(calls) == 1, "fresh index must not rebuild"

    # staleness: rewrite the source (size + mtime change)
    src.write_bytes(b"v2-bigger")
    ensure_index(idx, str(src), "v1", build)
    assert len(calls) == 2, "source change must trigger rebuild"

    # format version bump
    ensure_index(idx, str(src), "v2", build)
    assert len(calls) == 3, "version bump must trigger rebuild"
    ensure_index(idx, str(src), "v2", build)
    assert len(calls) == 3

    # torn build: failure before manifest write → next call rebuilds
    def failing(d):
        calls.append(d)
        raise RuntimeError("mid-build crash")

    src.write_bytes(b"v3")
    try:
        ensure_index(idx, str(src), "v2", failing)
    except RuntimeError:
        pass
    manifest = json.load(open(os.path.join(idx, "MANIFEST.json")))
    from dask_pipes_spark.session import dataset_fingerprint

    assert manifest["fingerprint"] != dataset_fingerprint(str(src)), (
        "crashed build must not look fresh"
    )
    ensure_index(idx, str(src), "v2", build)
    assert len(calls) == 5, "post-crash call must rebuild"


def test_l64_equals_l17_rebuild(spark):
    """The persisted LSH bucket table answers the multi-probe identically
    to the bucket-per-query rebuild path."""
    from dask_pipes_spark.operators.llm_ext import (
        l17_vector_lsh_topk,
        l64_lsh_index_persist,
    )

    a = _rowset(l17_vector_lsh_topk(spark, SF_SMOKE))
    b = _rowset(l64_lsh_index_persist(spark, SF_SMOKE))
    assert a, "probe result must be non-empty at sf0.001"
    assert a == b


def test_l64_probe_plan_is_index_resident(spark):
    from dask_pipes_spark.operators.llm_ext import l64_lsh_index_persist

    plan = _plan(l64_lsh_index_persist(spark, SF_SMOKE))
    assert plan.count("dps_l64_lsh") >= 1
    assert not re.search(r"embeddings\.parquet", plan), (
        "probe must not rescan the corpus (buckets and queries come from "
        "the persisted index)"
    )


def test_l65_delta_maintained_equals_full_rebuild(spark):
    """l65 contract: anti-join deletes + map-side delta assignment against
    the fixed codebook produce the same index (and thus the same probe
    answer) as re-assigning the entire final corpus from scratch."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.llm_ext import (
        _ivf_corpus_and_centroids,
        _ivf_probe_topk,
        ivf_assign,
        l65_ann_index_delta,
    )

    got = _rowset(l65_ann_index_delta(spark, SF_SMOKE))
    assert got, "probe result must be non-empty at sf0.001"

    # from-scratch twin: old-corpus codebook, final-corpus assignments
    _, cent = _ivf_corpus_and_centroids(
        spark, SF_SMOKE, pred=F.col("vec_id") % 9 != 5
    )
    cent_rows = cent.collect()
    final_vecs, _ = _ivf_corpus_and_centroids(
        spark,
        SF_SMOKE,
        pred=(F.col("vec_id") % 9 == 5) | (F.col("vec_id") % 11 != 3),
    )
    rebuilt = _ivf_probe_topk(
        final_vecs, ivf_assign(final_vecs, cent_rows, nprobe=1), cent_rows
    )
    assert got == _rowset(rebuilt)


def test_l65_maintenance_plan_reads_only_index_and_deltas(spark):
    from dask_pipes_spark.operators.llm_ext import l65_ann_index_delta

    plan = _plan(l65_ann_index_delta(spark, SF_SMOKE))
    assert not re.search(r"embeddings\.parquet", plan)
    assert "posexplode" not in plan
    assert "decimal(28,12)" not in plan.lower()
    assert plan.count("dps_l65_ivf_delta") >= 3  # assignments + both feeds


def test_l66_equals_l2_full_recompute(spark):
    """The delta-maintained signature index produces the identical banded
    candidate set to l2's full recompute — persistence changes where bytes
    come from, never what the index means."""
    from dask_pipes_spark.operators.llm_ops import (
        l2_minhash_lsh,
        l66_minhash_index_persist,
    )

    a = _rowset(l2_minhash_lsh(spark, SF_SMOKE))
    b = _rowset(l66_minhash_index_persist(spark, SF_SMOKE))
    assert a, "candidate set must be non-empty at sf0.001"
    assert a == b


def test_l66_shingles_only_the_delta(spark):
    """The maintained signature frame reads document text exactly once —
    for the incoming batch — and takes the corpus side from the persisted
    signature parquet (the final candidate plan then consumes the eagerly
    checkpointed union, so the pin targets the pre-checkpoint frame); the
    signature table itself holds only accepted-corpus docs."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.llm_ops import (
        l66_minhash_index_persist,
        minhash_signatures,
    )
    from dask_pipes_spark.session import fanout, load, scratch_path

    # run the key once so the index exists (and prove it answers)
    assert l66_minhash_index_persist(spark, SF_SMOKE).count() > 0

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    sig_path = os.path.join(scratch_path(f"dps_l66_mh_{tag}"), "signatures")
    old_sigs = spark.read.schema("doc_id bigint, sig array<bigint>").parquet(
        sig_path
    )
    delta = fanout(load(spark, SF_SMOKE, "documents")).filter(
        F.col("doc_id") % 7 == 2
    )
    maintained = old_sigs.unionAll(minhash_signatures(delta))
    plan = _plan(maintained)
    assert len(re.findall(r"documents\.parquet", plan)) == 1, (
        "corpus text must be read only for the delta"
    )
    assert plan.count("dps_l66_mh") >= 1

    n_sigs = old_sigs.count()
    docs = load(spark, SF_SMOKE, "documents")
    n_old = docs.filter(F.col("doc_id") % 7 != 2).count()
    assert n_sigs == n_old
    assert n_old < docs.count()  # the delta slice is non-vacuous


def test_l67_delta_maintained_codes_equal_full_reencode(spark):
    """l67 contract: anti-join deletes + map-side delta encoding against
    the fixed codebooks produce the same code table (and ADC answer) as
    re-encoding the entire final corpus from scratch."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.vectors import (
        _pq_assign,
        _pq_corpus,
        _pq_probe_topk,
        _pq_train,
        l67_pq_index_delta,
    )

    got = _rowset(l67_pq_index_delta(spark, SF_SMOKE))
    assert got, "probe result must be non-empty at sf0.001"

    v_old, sub_old = _pq_corpus(spark, SF_SMOKE, pred=F.col("vec_id") % 9 != 5)
    cents = _pq_train(v_old, sub_old)
    final_pred = (F.col("vec_id") % 9 == 5) | (F.col("vec_id") % 11 != 3)
    _, sub_final = _pq_corpus(spark, SF_SMOKE, pred=final_pred)
    rebuilt = _pq_probe_topk(
        sub_final.filter(F.col("vec_id") % 100 == 0),
        cents,
        _pq_assign(sub_final, cents),
    )
    assert got == _rowset(rebuilt)


def test_l67_maintenance_plan_has_no_lloyd(spark):
    from dask_pipes_spark.operators.vectors import l67_pq_index_delta

    plan = _plan(l67_pq_index_delta(spark, SF_SMOKE))
    assert "ExistingRDD" not in plan, "Lloyd checkpoint leaked into the probe"
    assert plan.count("dps_l67_pq_delta") >= 3  # codes + both delta feeds
    assert len(re.findall(r"embeddings\.parquet", plan)) == 1  # query slice


def test_l70_checkpoint_equals_l65_merge(spark):
    """l70 contract: the checkpointed generation answers the probe
    identically to l65's per-probe merge path (both equal the
    from-scratch rebuild via the shared oracle)."""
    from dask_pipes_spark.operators.llm_ext import (
        l65_ann_index_delta,
        l70_ivf_index_checkpoint,
    )

    a = _rowset(l65_ann_index_delta(spark, SF_SMOKE))
    b = _rowset(l70_ivf_index_checkpoint(spark, SF_SMOKE))
    assert a, "probe result must be non-empty at sf0.001"
    assert a == b


def test_l70_probe_plan_is_pure_generation_scan(spark):
    """After the write-back the probe plan must carry NO maintenance
    residue: no anti-join, no union, no training stage, no embeddings
    scan — only the compacted generation and the persisted codebook."""
    from dask_pipes_spark.operators.llm_ext import l70_ivf_index_checkpoint

    plan = _plan(l70_ivf_index_checkpoint(spark, SF_SMOKE))
    assert "LeftAnti" not in plan, "anti-join residue in checkpointed probe"
    assert "Union" not in plan, "union residue in checkpointed probe"
    assert "posexplode" not in plan
    assert "decimal(28,12)" not in plan.lower()
    assert not re.search(r"embeddings\.parquet", plan)
    assert plan.count("assignments-g002") >= 1


def test_l70_vacuum_layout(spark):
    """File-count collapse: the superseded assignment table and both CDC
    feeds are deleted, the generation is ONE compacted parquet file, and
    VACUUM.json records the supersession chain."""
    import json

    from dask_pipes_spark.operators.llm_ext import l70_ivf_index_checkpoint
    from dask_pipes_spark.session import scratch_path

    assert l70_ivf_index_checkpoint(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l70_ivf_ckpt_{tag}")
    names = set(os.listdir(base))
    assert "assignments-g002" in names and "centroids" in names
    for gone in ("assignments", "delta_ins", "delta_del",
                 "assignments-g002.tmp"):
        assert gone not in names, f"superseded state survived vacuum: {gone}"
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert manifest["superseded"] == ["assignments", "delta_del", "delta_ins"]
    assert manifest["by"] == "assignments-g002"
    datafiles = [
        f
        for f in os.listdir(os.path.join(base, "assignments-g002"))
        if f.endswith(".parquet")
    ]
    assert len(datafiles) == 1, "generation must be one compacted file"


def test_l72_checkpoint_equals_l67_merge(spark):
    from dask_pipes_spark.operators.vectors import (
        l67_pq_index_delta,
        l72_pq_index_checkpoint,
    )

    a = _rowset(l67_pq_index_delta(spark, SF_SMOKE))
    b = _rowset(l72_pq_index_checkpoint(spark, SF_SMOKE))
    assert a, "probe result must be non-empty at sf0.001"
    assert a == b


def test_l72_probe_plan_is_pure_generation_scan(spark):
    """No maintenance residue: no anti-join/union/Lloyd; embeddings read
    exactly once (the query slice); codes come from the generation."""
    from dask_pipes_spark.operators.vectors import l72_pq_index_checkpoint

    plan = _plan(l72_pq_index_checkpoint(spark, SF_SMOKE))
    assert "LeftAnti" not in plan
    assert "ExistingRDD" not in plan, "Lloyd checkpoint leaked into probe"
    assert "Union" not in plan
    assert len(re.findall(r"embeddings\.parquet", plan)) == 1
    assert plan.count("codes-g002") >= 1


def test_l72_vacuum_layout(spark):
    import json

    from dask_pipes_spark.operators.vectors import l72_pq_index_checkpoint
    from dask_pipes_spark.session import scratch_path

    assert l72_pq_index_checkpoint(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l72_pq_ckpt_{tag}")
    names = set(os.listdir(base))
    assert "codes-g002" in names and "codebooks" in names
    for gone in ("codes", "delta_ins", "delta_del", "codes-g002.tmp"):
        assert gone not in names, f"superseded state survived vacuum: {gone}"
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert manifest["superseded"] == ["codes", "delta_del", "delta_ins"]
    assert manifest["by"] == "codes-g002"


def test_l73_equals_l71_rebuild(spark):
    """The persisted residual-IVFADC index answers the probe identically
    to the train-everything-per-query rebuild path."""
    from dask_pipes_spark.operators.vectors import (
        l71_ivfadc_residual,
        l73_residual_index_persist,
    )

    a = _rowset(l71_ivfadc_residual(spark, SF_SMOKE))
    b = _rowset(l73_residual_index_persist(spark, SF_SMOKE))
    assert a, "probe result must be non-empty at sf0.001"
    assert a == b


def test_l73_probe_plan_has_no_training(spark):
    """Pure probe: no Lloyd checkpoint, no coarse-centroid training, no
    embeddings scan — queries come from the persisted inverted file."""
    from dask_pipes_spark.operators.vectors import l73_residual_index_persist

    plan = _plan(l73_residual_index_persist(spark, SF_SMOKE))
    assert "ExistingRDD" not in plan, "Lloyd checkpoint leaked into probe"
    # no coarse-centroid training: the posexplode + decimal-mean pattern
    # is the training signature (the probe's ADC accumulation legitimately
    # uses decimal(28,12) sums, so only posexplode is pinned here)
    assert "posexplode" not in plan
    assert not re.search(r"embeddings\.parquet", plan)
    assert plan.count("dps_l73_rivfadc") >= 4  # 4 persisted tables


def test_l75_delta_maintained_equals_full_rebucket(spark):
    """l75 contract: anti-join deletes + map-side sign-bucketing of the
    delta against the FIXED hyperplane basis produce the same bucket
    table (and probe answer) as re-bucketing the entire final corpus."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.llm_ext import (
        _lsh_corpus_index,
        _lsh_probe_topk,
        l75_lsh_index_delta,
    )

    got = _rowset(l75_lsh_index_delta(spark, SF_SMOKE))
    assert got, "probe result must be non-empty at sf0.001"
    rebuilt = _lsh_probe_topk(
        _lsh_corpus_index(
            spark,
            SF_SMOKE,
            pred=(F.col("vec_id") % 9 == 5) | (F.col("vec_id") % 11 != 3),
        )
    )
    assert got == _rowset(rebuilt)


def test_l75_maintenance_plan_reads_only_index_and_deltas(spark):
    from dask_pipes_spark.operators.llm_ext import l75_lsh_index_delta

    plan = _plan(l75_lsh_index_delta(spark, SF_SMOKE))
    assert not re.search(r"embeddings\.parquet", plan), (
        "maintenance must never rescan the corpus"
    )
    assert plan.count("dps_l75_lsh_delta") >= 3  # buckets + both feeds


def test_l76_checkpoint_equals_l75_merge(spark):
    from dask_pipes_spark.operators.llm_ext import (
        l75_lsh_index_delta,
        l76_lsh_index_checkpoint,
    )

    a = _rowset(l75_lsh_index_delta(spark, SF_SMOKE))
    b = _rowset(l76_lsh_index_checkpoint(spark, SF_SMOKE))
    assert a, "probe result must be non-empty at sf0.001"
    assert a == b


def test_l76_probe_plan_is_pure_generation_scan(spark):
    """No maintenance residue after the write-back: no anti-join, no
    union, no embeddings scan — and no hyperplane evaluation at all
    (queries take their bucket from the generation, so the fixed basis
    literals must appear nowhere in the probe plan)."""
    from dask_pipes_spark.operators.llm_ext import (
        _hyperplanes,
        l76_lsh_index_checkpoint,
    )

    plan = _plan(l76_lsh_index_checkpoint(spark, SF_SMOKE))
    assert "LeftAnti" not in plan, "anti-join residue in checkpointed probe"
    assert "Union" not in plan, "union residue in checkpointed probe"
    assert not re.search(r"embeddings\.parquet", plan)
    assert plan.count("buckets-g002") >= 1
    # hyperplane-recompute pin: the first basis coefficient's digits would
    # surface as a literal if any sign bit were re-derived
    coeff = f"{abs(_hyperplanes(6, 64)[0][0]):.6f}".lstrip("0.")
    assert coeff not in plan, "hyperplane evaluation leaked into the probe"


def test_l76_vacuum_layout(spark):
    import json

    from dask_pipes_spark.operators.llm_ext import l76_lsh_index_checkpoint
    from dask_pipes_spark.session import scratch_path

    assert l76_lsh_index_checkpoint(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l76_lsh_ckpt_{tag}")
    names = set(os.listdir(base))
    assert "buckets-g002" in names
    for gone in ("buckets", "delta_ins", "delta_del", "buckets-g002.tmp"):
        assert gone not in names, f"superseded state survived vacuum: {gone}"
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert manifest["superseded"] == ["buckets", "delta_del", "delta_ins"]
    assert manifest["by"] == "buckets-g002"


def test_l74_checkpoint_equals_l2_recompute(spark):
    """l74 contract: the compacted signature generation produces the
    identical banded candidate set to l2's full recompute (and thus to
    l66's union path) — the write-back changes where bytes come from,
    never what the index means."""
    from dask_pipes_spark.operators.llm_ops import (
        l2_minhash_lsh,
        l74_minhash_index_checkpoint,
    )

    a = _rowset(l2_minhash_lsh(spark, SF_SMOKE))
    b = _rowset(l74_minhash_index_checkpoint(spark, SF_SMOKE))
    assert a, "candidate set must be non-empty at sf0.001"
    assert a == b


def test_l74_probe_plan_is_pure_generation_scan(spark):
    """After the write-back the candidate-generation plan must read ONLY
    the compacted generation: zero document-text scans and no union
    stage. Pinned on the pre-checkpoint probe frame (lsh_candidate_pairs
    with the eager localCheckpoint disabled — the checkpoint would hide
    the upstream plan behind an ExistingRDD, the l66-test discipline)."""
    from dask_pipes_spark.operators.llm_ops import (
        _SIG_SCHEMA,
        l74_minhash_index_checkpoint,
        lsh_candidate_pairs,
    )
    from dask_pipes_spark.session import scratch_path

    assert l74_minhash_index_checkpoint(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l74_mh_ckpt_{tag}")
    sigs = spark.read.schema(_SIG_SCHEMA).parquet(
        os.path.join(base, "signatures-g002")
    )
    plan = _plan(lsh_candidate_pairs(sigs, _checkpoint=False))
    assert not re.search(r"documents\.parquet", plan), (
        "probe must never re-shingle text"
    )
    # the residue this pins against is a generation ∪ delta-feed read: the
    # only signature source in the plan may be the compacted generation.
    # (A plain "no Union" check would also reject the round-13 join-free
    # pair emission, whose head-pairs ∪ tail-stars union is two branches
    # over the SAME generation scan — operator structure, not residue.)
    assert "delta" not in plan, "delta-feed residue in checkpointed probe"
    srcs = set(re.findall(r"signatures-g\d+", plan))
    assert srcs == {"signatures-g002"}, srcs


def test_l74_vacuum_layout_and_chain(spark):
    """File-layout half of the l74 contract: the superseded signature
    table and the delta feed are deleted, the generation is one compacted
    file, VACUUM.json records the supersession — and a SECOND maintenance
    window (tombstoning a doc slice) checkpoints signatures-g003 on top
    with the full history chain intact and the probe consistent with the
    surviving documents."""
    import json

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.llm_ops import (
        _SIG_SCHEMA,
        l74_minhash_index_checkpoint,
        lsh_candidates,
    )
    from dask_pipes_spark.session import (
        checkpoint_index_generation,
        scratch_path,
    )

    assert l74_minhash_index_checkpoint(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l74_mh_ckpt_{tag}")
    names = set(os.listdir(base))
    assert "signatures-g002" in names
    for gone in ("signatures", "delta_sigs", "signatures-g002.tmp"):
        assert gone not in names, f"superseded state survived vacuum: {gone}"
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert manifest["superseded"] == ["delta_sigs", "signatures"]
    assert manifest["by"] == "signatures-g002"
    datafiles = [
        f
        for f in os.listdir(os.path.join(base, "signatures-g002"))
        if f.endswith(".parquet")
    ]
    # compacted to at most target_files=8 (the scan-parallelism knob —
    # one file capped the sf1 probe at 2 partitions; see the operator)
    assert 1 <= len(datafiles) <= 8, "generation must be a compacted layout"

    # second window: tombstone every 9th doc, checkpoint g003
    g2 = spark.read.schema(_SIG_SCHEMA).parquet(
        os.path.join(base, "signatures-g002")
    )
    n2 = g2.count()
    n_del = g2.filter(F.col("doc_id") % 9 == 0).count()
    checkpoint_index_generation(
        base,
        g2.filter(F.col("doc_id") % 9 != 0),
        superseded=["signatures-g002"],
        generation="signatures-g003",
    )
    names = set(os.listdir(base))
    assert "signatures-g003" in names and "signatures-g002" not in names
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in manifest["history"]] == [
        "signatures-g002",
        "signatures-g003",
    ]
    g3 = spark.read.schema(_SIG_SCHEMA).parquet(
        os.path.join(base, "signatures-g003")
    )
    assert g3.count() == n2 - n_del
    surviving = {r.doc_id for r in g3.select("doc_id").collect()}
    cands = lsh_candidates(g3).collect()
    assert cands, "post-g003 probe must still answer"
    for r in cands:
        assert r.doc_a in surviving and r.doc_b in surviving
    # clean slate for other tests (whole-dir invalidation — see the l70
    # chain test's rationale)
    import shutil

    shutil.rmtree(base)


def test_l77_delta_maintained_equals_full_rebuild(spark):
    """l77 contract: delta maintenance of BOTH residual tables against
    the fixed quantizers equals assigning + residual-encoding the entire
    final corpus from scratch (codebooks still trained on yesterday's
    slice)."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.llm_ext import (
        _ivf_corpus_and_centroids,
        ivf_assign,
    )
    from dask_pipes_spark.operators.vectors import (
        _residual_probe,
        _residual_train,
        l77_residual_index_delta,
    )

    got = _rowset(l77_residual_index_delta(spark, SF_SMOKE))
    assert got, "probe result must be non-empty at sf0.001"

    vecs_old, cent = _ivf_corpus_and_centroids(
        spark, SF_SMOKE, pred=F.col("vec_id") % 9 != 5
    )
    cent_rows = cent.collect()
    cents, _ = _residual_train(
        ivf_assign(vecs_old, cent_rows, nprobe=1), cent
    )
    final_vecs, _ = _ivf_corpus_and_centroids(
        spark,
        SF_SMOKE,
        pred=(F.col("vec_id") % 9 == 5) | (F.col("vec_id") % 11 != 3),
    )
    indexed_final = ivf_assign(final_vecs, cent_rows, nprobe=1)
    from dask_pipes_spark.operators.vectors import (
        _pq_assign,
        _pq_subspaces,
    )
    from pyspark.sql import functions as F2

    resid_final = indexed_final.join(F2.broadcast(cent), "bucket").select(
        "vec_id", F2.zip_with("e", "ce", lambda x, y: x - y).alias("e")
    )
    codes_final = _pq_assign(
        _pq_subspaces(resid_final).select("vec_id", "s", "sv"), cents
    )
    rebuilt = _residual_probe(
        indexed_final, cent, cent_rows, cents, codes_final
    )
    assert got == _rowset(rebuilt)


def test_l77_maintenance_plan_reads_only_index_and_deltas(spark):
    from dask_pipes_spark.operators.vectors import l77_residual_index_delta

    plan = _plan(l77_residual_index_delta(spark, SF_SMOKE))
    assert not re.search(r"embeddings\.parquet", plan)
    assert "ExistingRDD" not in plan, "Lloyd checkpoint leaked into probe"
    assert "posexplode" not in plan  # no coarse training
    assert plan.count("dps_l77_rivfadc_delta") >= 5  # 4 tables + feeds


@pytest.mark.parametrize(
    "module, key, index_name, tables",
    [
        ("llm_ext", "l65_ann_index_delta", "dps_l65_ivf_delta",
         ["assignments", "centroids"]),
        ("vectors", "l67_pq_index_delta", "dps_l67_pq_delta",
         ["codebooks", "codes"]),
        ("llm_ext", "l75_lsh_index_delta", "dps_l75_lsh_delta", ["buckets"]),
        ("vectors", "l77_residual_index_delta", "dps_l77_rivfadc_delta",
         ["assignments", "centroids", "codebooks", "codes"]),
    ],
)
def test_batch_delta_index_layout(spark, module, key, index_name, tables):
    """The batch delta keys keep yesterday's state as plain (generation-
    less) tables beside both staged CDC feeds, and write no VACUUM
    manifest: the probe-time merge never commits."""
    import importlib

    fn = getattr(
        importlib.import_module(f"dask_pipes_spark.operators.{module}"), key
    )
    from dask_pipes_spark.session import scratch_path

    assert fn(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    names = sorted(os.listdir(scratch_path(f"{index_name}_{tag}")))
    assert names == sorted(
        ["MANIFEST.json", "delta_del", "delta_ins", *tables]
    )


def test_l78_checkpoint_equals_l77_merge(spark):
    from dask_pipes_spark.operators.vectors import (
        l77_residual_index_delta,
        l78_residual_index_checkpoint,
    )

    a = _rowset(l77_residual_index_delta(spark, SF_SMOKE))
    b = _rowset(l78_residual_index_checkpoint(spark, SF_SMOKE))
    assert a, "probe result must be non-empty at sf0.001"
    assert a == b


def test_l78_probe_plan_is_pure_generation_scan(spark):
    from dask_pipes_spark.operators.vectors import (
        l78_residual_index_checkpoint,
    )

    plan = _plan(l78_residual_index_checkpoint(spark, SF_SMOKE))
    assert "LeftAnti" not in plan
    assert "Union" not in plan
    assert "ExistingRDD" not in plan
    assert "posexplode" not in plan
    assert not re.search(r"embeddings\.parquet", plan)
    # Spark truncates long scan paths in the plan string, so the
    # generation pin matches the surviving prefix
    assert plan.count("dps_l78_rivfadc_ckpt") >= 4  # 2 gens + 2 quantizers
    assert plan.count("assignments-g") >= 1
    assert plan.count("codes-g002") >= 1


def test_l78_vacuum_layout_two_generations(spark):
    """The multi-table checkpoint leaves both compacted generations, the
    surviving quantizer artifacts, and ONE VACUUM history link carrying
    BOTH moves (round 11 — the atomic transaction: no manifest state
    where one table's head moved and the other's didn't); all superseded
    tables and feeds are gone."""
    import json

    from dask_pipes_spark.operators.vectors import (
        l78_residual_index_checkpoint,
    )
    from dask_pipes_spark.session import scratch_path

    assert l78_residual_index_checkpoint(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l78_rivfadc_ckpt_{tag}")
    names = set(os.listdir(base))
    for kept in ("assignments-g002", "codes-g002", "centroids", "codebooks"):
        assert kept in names, f"missing surviving artifact: {kept}"
    for gone in ("assignments", "codes", "delta_ins", "delta_del",
                 "assignments-g002.tmp", "codes-g002.tmp"):
        assert gone not in names, f"superseded state survived vacuum: {gone}"
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert len(manifest["history"]) == 1, "one transaction, one link"
    link = manifest["history"][0]
    assert link["bys"] == ["assignments-g002", "codes-g002"]
    assert manifest["by"] == "codes-g002", "head mirror = bys[-1]"
    assert manifest["superseded"] == [
        "assignments", "codes", "delta_del", "delta_ins",
    ], "one union supersession set, vacuumed atomically"


def test_l81_pair_layout_and_pruned_plan(spark):
    """l81 layout + plan contract (round 11): TWO atomic pair links in
    the history (staged g001 pair, maintained g002 pair), superseded
    tables and both feeds vacuumed by the g002 link, and the pruned
    serving plan reads the two generations + quantizers + the query
    slice only — no merge residue, no Lloyd leak, no corpus scan. The
    pruned answer equals k23's streaming twin (same composed oracle)."""
    import json
    import re

    from dask_pipes_spark.operators.streaming_ops import k23_stream_pq_ivm
    from dask_pipes_spark.operators.vectors import l81_ivfpq_pruned_checkpoint
    from dask_pipes_spark.session import _link_bys, scratch_path

    df = l81_ivfpq_pruned_checkpoint(spark, SF_SMOKE)
    got = sorted(tuple(r) for r in df.collect())
    assert got, "probe must be non-empty at sf0.001"
    twin = sorted(
        tuple(r) for r in k23_stream_pq_ivm(spark, SF_SMOKE).collect()
    )
    assert got == twin, "batch pair == streaming pair (same composition)"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l81_ivfpq_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [len(_link_bys(h)) for h in man["history"]] == [2, 2]
    assert _link_bys(man["history"][-1]) == [
        "assignments-g002", "codes-g002",
    ]
    assert man["superseded"] == [
        "assignments-g001", "codes-g001", "delta_del", "delta_ins",
    ]
    names = set(os.listdir(base))
    for kept in ("assignments-g002", "codes-g002", "centroids", "codebooks"):
        assert kept in names, f"missing surviving artifact: {kept}"
    for gone in ("assignments-g001", "codes-g001", "delta_ins", "delta_del"):
        assert gone not in names, f"superseded state survived vacuum: {gone}"
    # plan pins on a FRESH (unexecuted) build: after a collect, AQE's
    # final plan folds scans into reused query stages, making scan counts
    # execution-order-dependent
    plan = l81_ivfpq_pruned_checkpoint(
        spark, SF_SMOKE
    )._jdf.queryExecution().toString()
    assert "Union" not in plan and "LeftAnti" not in plan
    assert "ExistingRDD" not in plan
    phys = plan.split("== Physical Plan ==")[-1]
    assert len(re.findall(r"embeddings\.parquet", phys)) == 2, (
        "embeddings read only for the query slice (probe + grid subtrees)"
    )
    assert phys.count("assignments-g002") >= 1
    assert phys.count("codes-g002") >= 1


def test_l82_pair_asof_layout(spark):
    """l82 layout contract (round 11): the as-of pair resolves from ONE
    paired history link; both members of the superseded pair are on the
    retained list and on disk; the head pair serves simultaneously —
    two consistent two-table versions from one directory."""
    import json

    from dask_pipes_spark.operators.vectors import l82_pair_time_travel
    from dask_pipes_spark.session import _link_bys, scratch_path

    assert l82_pair_time_travel(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l82_pair_travel_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert set(man["retained"]) == {"assignments-g001", "codes-g001"}, (
        "retain=2 keeps the whole superseded pair"
    )
    pair_links = [h for h in man["history"] if len(_link_bys(h)) == 2]
    assert _link_bys(pair_links[-2]) == ["assignments-g001", "codes-g001"]
    assert _link_bys(pair_links[-1]) == ["assignments-g002", "codes-g002"]
    names = set(os.listdir(base))
    for gen in (
        "assignments-g001", "codes-g001", "assignments-g002", "codes-g002",
    ):
        assert gen in names, f"pair member missing: {gen}"


def test_checkpoint_retention_window_and_rollback(spark, tmp_path):
    """``retain=2`` keeps the two most recent superseded generations
    readable for time-travel: a reader pinned to g002 still answers while
    g004 is current; when g005 lands, g002 falls out of the window and is
    swept; staged FEEDS are never retained (a kept feed could be
    replayed); the manifest's ``retained`` list tracks the readable
    history at every step."""
    import json

    from pyspark.sql import functions as F

    from dask_pipes_spark.session import checkpoint_index_generation

    base = str(tmp_path / "idx")
    os.makedirs(base)
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # birth (g001) + a feed that must vacuum despite retention
    df.limit(10).write.mode("overwrite").parquet(os.path.join(base, "feed"))
    checkpoint_index_generation(
        base, df, superseded=[], generation="g001", retain=2
    )
    cur = df
    for n in (2, 3, 4):
        cur = cur.filter(F.col("k") % 17 != n)  # one delta window each
        checkpoint_index_generation(
            base, cur, superseded=[f"g{n-1:03d}", *(["feed"] if n == 2 else [])],
            generation=f"g{n:03d}", retain=2,
        )
    names = set(os.listdir(base))
    assert "feed" not in names, "feeds must vacuum regardless of retention"
    assert {"g002", "g003", "g004"} <= names, "window must keep 2 + current"
    assert "g001" not in names, "g001 fell out of the retention window"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert man["retained"] == ["g002", "g003"]
    # time-travel: a reader pinned to retained g002 still answers
    g2 = spark.read.parquet(os.path.join(base, "g002"))
    assert g2.count() == df.filter(F.col("k") % 17 != 2).count()
    # next window: g002 falls out and is swept
    cur = cur.filter(F.col("k") % 17 != 5)
    checkpoint_index_generation(
        base, cur, superseded=["g004"], generation="g005", retain=2
    )
    names = set(os.listdir(base))
    assert "g002" not in names, "g002 must sweep once out of the window"
    assert {"g003", "g004", "g005"} <= names
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert man["retained"] == ["g003", "g004"]
    # full history survives every checkpoint
    assert [h["by"] for h in man["history"]] == [
        "g001", "g002", "g003", "g004", "g005",
    ]


def test_checkpoint_generation_chain(spark):
    """The write-back protocol is REPEATABLE: after l70's g002, a second
    delta window checkpoints g003 on top — the old generation vacuumed,
    the manifest re-pointed, the probe consistent with the surviving
    rows. This is the generation chain a nightly job walks forever."""
    import json

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.llm_ext import (
        _ivf_probe_topk,
        l70_ivf_index_checkpoint,
    )
    from dask_pipes_spark.session import (
        checkpoint_index_generation,
        scratch_path,
    )

    assert l70_ivf_index_checkpoint(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l70_ivf_ckpt_{tag}")
    schema = "vec_id bigint, e array<double>, nrm double, bucket int"
    g2 = spark.read.schema(schema).parquet(
        os.path.join(base, "assignments-g002")
    )
    n2 = g2.count()
    # second window: tombstone every 13th surviving vector, checkpoint g003
    # (count the tombstones BEFORE the vacuum deletes g002's files)
    n_del = g2.filter(F.col("vec_id") % 13 == 0).count()
    maintained = g2.filter(F.col("vec_id") % 13 != 0)
    checkpoint_index_generation(
        base, maintained, superseded=["assignments-g002"],
        generation="assignments-g003",
    )
    names = set(os.listdir(base))
    assert "assignments-g003" in names
    assert "assignments-g002" not in names, "old generation must be vacuumed"
    assert "assignments-g003.tmp" not in names
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert manifest["superseded"] == ["assignments-g002"]
    assert manifest["by"] == "assignments-g003"
    # the manifest keeps the FULL supersession chain, not just the last
    # link: g002's creation (vacuuming the staged state) then this one
    assert [h["by"] for h in manifest["history"]] == [
        "assignments-g002",
        "assignments-g003",
    ]
    g3 = spark.read.schema(schema).parquet(
        os.path.join(base, "assignments-g003")
    )
    assert g3.count() == n2 - n_del
    cent_rows = (
        spark.read.schema("bucket int, ce array<double>, cnrm double")
        .parquet(os.path.join(base, "centroids"))
        .collect()
    )
    probe = _ivf_probe_topk(g3.select("vec_id", "e", "nrm"), g3, cent_rows)
    rows = probe.collect()
    assert rows, "post-g003 probe must still answer"
    surviving = {r.vec_id for r in g3.select("vec_id").collect()}
    for r in rows:
        assert r.neighbor_id in surviving and r.query_id in surviving
    # leave a CLEAN slate for other tests (round 9, advice item): removing
    # only MANIFEST.json would leave the stale g003 directory and the
    # g002→g003 VACUUM history behind — the next l70 rebuild would then
    # append a second g002 link after g003 (a non-monotonic history) and
    # orphan the g003 data dir forever. Invalidate by removing the whole
    # index dir, the same clean-slate a real rebuild-from-source implies.
    import shutil

    shutil.rmtree(base)


def test_l79_two_versions_one_directory(spark):
    """l79's time-travel layout: after the two-window build, BOTH
    generations are on disk, the manifest's ``retained`` list names g002,
    the history chain is monotonic g002→g003, and the two generations
    serve their respective window states — the head answers window 2
    (g002 minus the %13==6 retraction), the retained generation answers
    window 1 bit-for-bit (the parity oracle pins that half)."""
    import json

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.llm_ext import l79_index_time_travel
    from dask_pipes_spark.session import scratch_path

    assert l79_index_time_travel(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l79_ivf_travel_{tag}")
    names = set(os.listdir(base))
    assert {"assignments-g002", "assignments-g003", "centroids"} <= names
    for gone in ("assignments", "delta_ins", "delta_del", "delta_del2"):
        assert gone not in names, f"feed survived vacuum: {gone}"
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert manifest["retained"] == ["assignments-g002"]
    assert [h["by"] for h in manifest["history"]] == [
        "assignments-g002",
        "assignments-g003",
    ]
    schema = "vec_id bigint, e array<double>, nrm double, bucket int"
    g2 = spark.read.schema(schema).parquet(
        os.path.join(base, "assignments-g002")
    )
    g3 = spark.read.schema(schema).parquet(
        os.path.join(base, "assignments-g003")
    )
    # head state == retained state minus the window-2 retraction
    assert g3.count() == g2.filter(F.col("vec_id") % 13 != 6).count()
    assert g3.filter(F.col("vec_id") % 13 == 6).count() == 0


def test_l79_probe_plan_reads_only_retained_generation(spark):
    """The time-travel probe is a pure generation scan of the RETAINED
    g002: no anti-join, no union, no training, no corpus scan, and no
    accidental read of the g003 head."""
    from dask_pipes_spark.operators.llm_ext import l79_index_time_travel

    plan = _plan(l79_index_time_travel(spark, SF_SMOKE))
    assert "LeftAnti" not in plan
    assert "Union" not in plan
    assert "posexplode" not in plan
    assert not re.search(r"embeddings\.parquet", plan)
    assert "assignments-g002" in plan
    assert "assignments-g003" not in plan


def test_l84_lifecycle_layout_and_pruned_plan(spark):
    """l84 contract (round 12 — the corpus-sized quantizer composed into
    the serving lifecycle): the history carries the N=4 initial
    transaction then the maintained pair; the coarse codebook is the
    data-derived K=⌈√N_train⌉ (not the fixture's label count); the
    served answer equals the in-memory composed rebuild; and the pruned
    serving plan reads the four persisted heads + the query slice only
    — no Lloyd leak, no merge residue, no corpus scan."""
    from dask_pipes_spark.operators.vectors import (
        _coarse_kmeans_assign,
        _coarse_kmeans_train,
        _pq_assign,
        _pq_corpus,
        _pq_pruned_probe_topk,
        _pq_train,
        _sqrt_k,
        _CQ_NPROBE,
        l84_kmeans_ivfpq_serving,
    )
    from dask_pipes_spark.session import _link_bys, scratch_path

    from pyspark.sql import functions as F

    got = _rowset(l84_kmeans_ivfpq_serving(spark, SF_SMOKE))
    assert got, "probe must be non-empty at sf0.001"

    # in-memory composed rebuild twin (quantizers on yesterday, tables on
    # the final corpus) — the oracle's semantics re-derived engine-side
    v, sub = _pq_corpus(spark, SF_SMOKE)
    train = v.filter(F.col("vec_id") % 9 != 5)
    tsub = sub.filter(F.col("vec_id") % 9 != 5)
    k = _sqrt_k(train.count())
    ccents = _coarse_kmeans_train(train, k=k)
    cents = _pq_train(train, tsub)
    final_pred = (F.col("vec_id") % 9 == 5) | (F.col("vec_id") % 11 != 3)
    vf = v.filter(final_pred)
    subf = sub.filter(final_pred)
    qpred = F.col("vec_id") % 100 == 0
    probes = _coarse_kmeans_assign(
        vf.filter(qpred), ccents, nprobe=_CQ_NPROBE
    ).select(F.col("vec_id").alias("query_id"), "bucket")
    twin = _rowset(
        _pq_pruned_probe_topk(
            subf.filter(qpred),
            probes,
            _coarse_kmeans_assign(vf, ccents),
            cents,
            _pq_assign(subf, cents),
        )
    )
    assert got == twin, "persisted lifecycle == composed in-memory rebuild"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l84_kivfpq_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [len(_link_bys(h)) for h in man["history"]] == [4, 2], (
        "one N=4 transaction, then the maintained pair"
    )
    assert _link_bys(man["history"][0]) == [
        "centroids-g001", "codebooks-g001",
        "assignments-g001", "codes-g001",
    ]
    assert _link_bys(man["history"][-1]) == [
        "assignments-g002", "codes-g002",
    ]
    names = set(os.listdir(base))
    for kept in (
        "centroids-g001", "codebooks-g001",
        "assignments-g002", "codes-g002",
    ):
        assert kept in names, f"missing surviving head: {kept}"
    for gone in ("assignments-g001", "codes-g001", "delta_ins", "delta_del"):
        assert gone not in names, f"superseded state survived vacuum: {gone}"
    # the codebook is data-sized: K = ceil(sqrt(N_train)), not 10 labels
    n_cells = spark.read.parquet(
        os.path.join(base, "centroids-g001")
    ).count()
    assert n_cells == k and k > 10

    # plan pins on a FRESH (unexecuted) build
    plan = _plan(l84_kmeans_ivfpq_serving(spark, SF_SMOKE))
    assert "ExistingRDD" not in plan, "no Lloyd/localCheckpoint leak"
    assert "Union" not in plan and "LeftAnti" not in plan
    phys = plan.split("== Physical Plan ==")[-1]
    assert len(re.findall(r"embeddings\.parquet", phys)) == 2, (
        "embeddings read only for the query slice (probe + grid subtrees)"
    )
    for head in (
        "centroids-g001", "codebooks-g001",
        "assignments-g002", "codes-g002",
    ):
        assert phys.count(head) >= 1, f"plan must read persisted {head}"


def test_l85_retrain_layout_and_k_resizing(spark):
    """l85 contract (round 12): the retrain lands as ONE 4-table link
    superseding all four old heads; K is RE-derived from the final
    corpus; the old quantizer world is fully vacuumed; serving resolves
    the post-retrain world."""
    from dask_pipes_spark.operators.vectors import (
        _pq_corpus,
        _sqrt_k,
        l85_quantizer_retrain_txn,
    )
    from dask_pipes_spark.session import _link_bys, head_bys, scratch_path

    from pyspark.sql import functions as F

    assert l85_quantizer_retrain_txn(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_l85_retrain_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [len(_link_bys(h)) for h in man["history"]] == [4, 2, 4]
    last = man["history"][-1]
    assert _link_bys(last) == [
        "centroids-g002", "codebooks-g002",
        "assignments-g003", "codes-g003",
    ]
    assert sorted(last["superseded"]) == [
        "assignments-g002", "centroids-g001",
        "codebooks-g001", "codes-g002",
    ], "the retrain supersedes ALL FOUR old heads in its one link"
    names = set(os.listdir(base))
    for gone in (
        "centroids-g001", "codebooks-g001",
        "assignments-g002", "codes-g002",
    ):
        assert gone not in names, f"old world survived vacuum: {gone}"
    # head resolution yields the complete post-retrain world
    bys = head_bys(base)
    assert [b for b in bys if b.startswith("centroids-")][-1] == "centroids-g002"
    assert [b for b in bys if b.startswith("codes-")][-1] == "codes-g003"
    # K re-sized to the FINAL corpus
    v, _ = _pq_corpus(
        spark, SF_SMOKE,
        pred=(F.col("vec_id") % 9 == 5) | (F.col("vec_id") % 11 != 3),
    )
    k2 = _sqrt_k(v.count())
    assert (
        spark.read.parquet(os.path.join(base, "centroids-g002")).count() == k2
    )


def test_retrain_txn_never_mixes_quantizer_worlds(spark, tmp_path):
    """The l85 kill-point contract at N=4: at EVERY kill point of the
    retrain transaction, per-prefix head resolution returns either the
    complete OLD world or the complete NEW world — never a mix (an
    inverted file bucketed by one quantizer serving under another).
    Kill points: all tmps durable / some finals renamed / link written
    but vacuum pending."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        checkpoint_index_generations,
        head_bys,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    tables = ("centroids", "codebooks", "assignments", "codes")
    dfs = {
        t: spark.range(10 * (i + 1)).select(
            "id", (F.col("id") + i).alias("v")
        )
        for i, t in enumerate(tables)
    }

    def world(gen):
        return {t: f"{t}-{gen}" for t in tables}

    def resolve():
        bys = head_bys(base)
        return {
            t: [b for b in bys if b.startswith(f"{t}-")][-1] for t in tables
        }

    checkpoint_index_generations(
        base, [(dfs[t], [], f"{t}-g001") for t in tables]
    )
    assert resolve() == world("g001")

    # kill point A: all four retrain tmps durable, nothing renamed
    for t in tables:
        dfs[t].coalesce(1).write.parquet(os.path.join(base, f"{t}-g002.tmp"))
    assert resolve() == world("g001"), "tmps are invisible to readers"

    # kill point B: HALF the finals renamed, link not written
    for t in tables[:2]:
        os.replace(
            os.path.join(base, f"{t}-g002.tmp"),
            os.path.join(base, f"{t}-g002"),
        )
    assert resolve() == world("g001"), (
        "a kill between renames must keep readers on the complete OLD world"
    )

    # same-args retry completes the transaction
    decoy = spark.range(999)
    checkpoint_index_generations(
        base, [(decoy, [f"{t}-g001"], f"{t}-g002") for t in tables]
    )
    assert resolve() == world("g002"), "retry lands the complete NEW world"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    from dask_pipes_spark.session import _link_bys

    assert len(man["history"]) == 2, "exactly one link for the 4-table move"
    assert len(_link_bys(man["history"][-1])) == 4
    for t in tables:
        assert not os.path.exists(os.path.join(base, f"{t}-g001")), "vacuumed"

    # kill point C: link written, vacuum pending (resurrect one old dir)
    dfs["codes"].coalesce(1).write.parquet(os.path.join(base, "codes-g001"))
    checkpoint_index_generations(
        base, [(decoy, [f"{t}-g001"], f"{t}-g002") for t in tables]
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert len(man["history"]) == 2, "idempotent: no duplicate link"
    assert not os.path.exists(os.path.join(base, "codes-g001")), "re-swept"
    assert resolve() == world("g002")
