"""Group K streaming-runtime semantics: stream==batch equivalence for the
drained complete-mode queries, watermark/append-mode window eviction, and
late-row dropping (SURVEY §2-K late-data notes)."""

from pyspark.sql import functions as F

from dask_pipes_spark.registry import dsum
from dask_pipes_spark.session import load
from dask_pipes_spark.streaming import read_events_stream, run_to_memory
from tests.conftest import SF_SMOKE


def _norm(rows):
    return sorted(tuple(r) for r in rows)


def test_k4_stream_equals_batch(spark, registry):
    queries, _ = registry
    stream_out = queries["k4_stream_tumbling"](spark, SF_SMOKE).collect()
    batch_out = queries["k1_tumbling_window"](spark, SF_SMOKE).collect()
    assert _norm(stream_out) == _norm(batch_out)


def test_k5_dedup_restores_unique_events(spark, registry):
    queries, _ = registry
    out = queries["k5_stream_dedup"](spark, SF_SMOKE)
    n_events = load(spark, SF_SMOKE, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_k6_stateful_counts_equal_batch_groupby(spark, registry):
    queries, _ = registry
    out = queries["k6_stream_stateful"](spark, SF_SMOKE)
    batch = (
        load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got = {r.user_id: r.n_events for r in out.collect()}
    want = {r.user_id: r.n_events for r in batch.collect()}
    assert got == want


def test_append_mode_emits_only_watermark_closed_windows(spark):
    """The late-data contract: with a multi-batch replay and a short
    watermark, append mode emits exactly the windows whose end < final
    watermark (max event time - delay), and never a window twice."""
    stream = read_events_stream(spark, SF_SMOKE, n_files=4, max_files_per_trigger=1)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("start"), "cnt")
    )
    out = run_to_memory(agg, "k_append_test", "append").collect()

    events = load(spark, SF_SMOKE, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    batch = (
        events.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("start"), "cnt")
        .collect()
    )
    got = {r.start: r.cnt for r in out}
    assert len(got) == len(out), "a window was emitted twice"
    # every emitted window is closed (end + 30min ≤ max event time) and its
    # count matches the batch answer exactly (no partial emission)
    import datetime as dt

    for start, cnt in got.items():
        assert start + dt.timedelta(days=1, minutes=30) <= max_ts
        assert cnt == next(b.cnt for b in batch if b.start == start)
    # and at least one window did close (the replay spans ~30 days)
    assert len(got) >= 1


def test_k8_stream_stream_join_equals_batch_join(spark, registry):
    """The watermarked stream-stream interval join must produce exactly the
    rows of the same join run as a batch query."""
    from pyspark.sql import functions as F
    from dask_pipes_spark.session import load

    queries, _ = registry
    streamed = queries["k8_stream_stream_join"](spark, SF_SMOKE)

    e = load(spark, SF_SMOKE, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND click_ts BETWEEN "
            "purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"
        ),
    ).select("purchase_id", "p_user", "purchase_ts", "click_ts", "click_value")
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_k10_stream_session_equals_batch(spark, registry):
    """The drained streaming session-window result must equal batch k3
    (same gap, same aggregates) — session merge logic included."""
    queries, _ = registry
    cols = ["user_id", "session_start", "last_event", "n_events", "sum_value"]
    streamed = queries["k10_stream_session"](spark, SF_SMOKE).select(cols)
    batch = queries["k3_session_window"](spark, SF_SMOKE).select(cols)
    assert _norm(streamed.collect()) == _norm(batch.collect())


def test_k11_stream_sliding_equals_batch(spark, registry):
    """The drained streaming sliding-window result must equal batch k2 —
    overlapping window state included."""
    queries, _ = registry
    cols = ["window_start_epoch", "cnt", "sum_value"]
    streamed = queries["k11_stream_sliding"](spark, SF_SMOKE).select(cols)
    batch = queries["k2_sliding_window"](spark, SF_SMOKE).select(cols)
    assert _norm(streamed.collect()) == _norm(batch.collect())


def test_k13_incremental_state_is_replay_invariant(spark, registry):
    """The checksum state must be identical whether the data arrives as one
    micro-batch or replayed file-by-file — SUM/XOR accumulation is order-
    and batching-insensitive, which is the whole incremental-Merkle claim."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.streaming import read_events_stream, run_to_memory

    queries, _ = registry
    one = sorted(
        (r.bucket, r.n_rows, r.sum_digest, r.xor_digest)
        for r in queries["k13_stream_checksum"](spark, SF_SMOKE).collect()
    )
    stream = read_events_stream(spark, SF_SMOKE, n_files=4, max_files_per_trigger=1)
    row_str = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.floor(F.col("value") * 10000 + 0.5).cast("bigint").cast("string"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
    )
    digest = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    agg = (
        stream.select((F.col("event_id") % 64).alias("bucket"), digest.alias("digest"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("digest").cast("decimal(38,0)")).cast("string").alias("sum_digest"),
            F.expr("bit_xor(digest)").alias("xor_digest"),
        )
    )
    replayed = sorted(
        (r.bucket, r.n_rows, r.sum_digest, r.xor_digest)
        for r in run_to_memory(agg, "k13_replay", "complete").collect()
    )
    assert replayed == one


def test_k14_progress_audit_invariants(spark, registry):
    """The progress audit's contract: batch input rows sum to the corpus,
    the watermark never regresses, and the measured Spark 4.1.2 late-data
    behavior holds — the out-of-order slice re-opens state (high
    state_rows_updated while the watermark does not advance) instead of
    being counted as dropped."""
    queries, _ = registry
    rows = sorted(
        queries["k14_stream_progress_audit"](spark, SF_SMOKE).collect(),
        key=lambda r: r.batch_id,
    )
    assert sum(r.input_rows for r in rows) == 1000  # sf0.001 events
    wms = [r.watermark for r in rows if r.watermark]
    assert wms == sorted(wms), wms  # ISO strings: lexicographic == temporal
    # the late batch: nonzero input, state re-opened, watermark stalled,
    # and (pinned behavior) zero rows counted as watermark-dropped
    stalls = [
        r
        for prev, r in zip(rows, rows[1:])
        if r.input_rows > 0 and r.watermark == prev.watermark
    ]
    assert stalls, "out-of-order replay must produce a watermark stall"
    assert all(r.state_rows_updated > 0 for r in stalls)
    assert all(r.late_rows_dropped == 0 for r in rows)


def test_k15_dedup_state_crosses_microbatches(spark, registry):
    """The k15 runtime contract the SQL oracle can't see directly: the
    corpus slice replays as micro-batch 0, the ingest slice as micro-batch
    1, and dropDuplicatesWithinWatermark's state carries ACROSS the batch
    boundary — the drained output is exactly one row per distinct digest
    while the planted duplicates (in-batch and vs-corpus) are shed."""
    from dask_pipes_spark.operators.streaming_ops import (
        stage_documents_dedup_stream,
    )
    from dask_pipes_spark.streaming import run_with_progress

    path = stage_documents_dedup_stream(spark, SF_SMOKE)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withColumn("h", F.sha2("text", 256))
    )
    dedup = (
        stream.withWatermark("ts", "240 hours")
        .dropDuplicatesWithinWatermark(["h"])
        .select("h")
    )
    out, progresses = run_with_progress(dedup, "k15_xbatch_test", "append")
    assert len(progresses) >= 2  # corpus replay, then the ingest batch
    staged = spark.read.parquet(path)
    n_distinct = (
        staged.select(F.sha2("text", 256).alias("h")).distinct().count()
    )
    assert out.count() == n_distinct  # one survivor per digest, no leaks
    total_in = sum(int(p["numInputRows"]) for p in progresses)
    assert total_in == staged.count()
    assert total_in > n_distinct  # the planted duplicates actually existed
    # and duplicates were shed across micro-batches, not only within one:
    # every corpus digest seen again in the ingest batch must NOT re-emit
    corpus_h = {
        r.h
        for r in staged.filter("doc_id % 5 = 0")
        .select(F.sha2("text", 256).alias("h"))
        .collect()
    }
    emitted = [r.h for r in out.collect()]
    assert len(emitted) == len(set(emitted))  # globally unique emission
    assert any(h in corpus_h for h in emitted)


def test_k16_avro_sink_writes_one_generation_per_microbatch(spark, registry):
    """k16 runtime contract: the foreachBatch sink must land at least two
    coexisting writer generations (one per micro-batch), all spec-valid
    containers, and the split read-back must account for every event."""
    import os

    from dask_pipes_spark.session import scratch_path

    queries, oracles = registry
    assert "k16_stream_avro_sink" in oracles
    out_rows = queries["k16_stream_avro_sink"](spark, SF_SMOKE).collect()
    assert len(out_rows) > 0
    landing = scratch_path("dps_k16_avro_sink")
    gens = {f.split("-")[0] for f in os.listdir(landing) if f.endswith(".avro")}
    assert len(gens) >= 2, gens  # one generation per micro-batch
    n_events = load(spark, SF_SMOKE, "events").count()
    assert sum(r.n_events for r in out_rows) == n_events


# --- RocksDB state-store provider (round 7, r6 verdict item 5) --------------

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def test_rocksdb_provider_engages(spark):
    """The production state knob actually runs in this build: a stateful
    drain under the RocksDB provider reports rocksdb* custom metrics in
    every micro-batch's state-operator progress."""
    import json

    from dask_pipes_spark.streaming import run_with_progress

    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        stream = read_events_stream(spark, SF_SMOKE).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        dd = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id")
        )
        df, progs = run_with_progress(dd, "rocksdb_engage_probe", "append")
        assert df.count() == load(spark, SF_SMOKE, "events").count()
        assert progs, "drain produced no progress events"
        seen = False
        for p in progs:
            d = json.loads(p.json)
            for so in d.get("stateOperators", []):
                metrics = so.get("customMetrics", {})
                if any("rocksdb" in k.lower() for k in metrics):
                    seen = True
        assert seen, "no rocksdb custom metrics — provider did not engage"
    finally:
        spark.conf.unset(_PROVIDER_CONF)


import pytest  # noqa: E402


@pytest.mark.parametrize(
    "key",
    ["k5_stream_dedup", "k10_stream_session", "k15_stream_incremental_dedup"],
)
def test_stateful_keys_identical_under_rocksdb(spark, key):
    """k5/k10/k15 under RocksDB state: exact same rowset as under the
    default HDFS-backed provider — state-store choice is an operational
    knob, never a semantics change (their SQL oracles hold unchanged)."""
    from dask_pipes_spark.operators import streaming_ops

    fn = getattr(streaming_ops, key)
    default_rows = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())
    assert default_rows, f"{key} empty at sf0.001"
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        rocks_rows = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())
    finally:
        spark.conf.unset(_PROVIDER_CONF)
    assert rocks_rows == default_rows


# --- k19: streaming aggregate IVM (round 9) ----------------------------------


def test_k19_stream_equals_p18_batch(spark):
    """The drained streaming MV equals p18's batch maintenance answer
    row-for-row — the continuous path and the nightly path land on the
    same state (both equal the from-scratch oracle)."""
    from dask_pipes_spark.operators.pipeline_ops import p18_agg_mv_maintain
    from dask_pipes_spark.operators.streaming_ops import k19_stream_agg_ivm

    a = sorted(tuple(r) for r in p18_agg_mv_maintain(spark, SF_SMOKE).collect())
    b = sorted(tuple(r) for r in k19_stream_agg_ivm(spark, SF_SMOKE).collect())
    assert a, "batch MV must be non-empty at sf0.001"
    assert a == b


def test_k19_generation_chain_and_serving_plan(spark):
    """One generation per non-empty micro-batch (g001 birth + g002..g005
    for the 4 CDC files under maxFilesPerTrigger=1), history monotonic,
    superseded generations and stream scratch vacuumed, serving plan =
    one generation scan with no union/anti-join/delta residue."""
    import json
    import os

    from dask_pipes_spark.operators.streaming_ops import k19_stream_agg_ivm
    from dask_pipes_spark.session import scratch_path

    df = k19_stream_agg_ivm(spark, SF_SMOKE)
    assert df.count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k19_aggmv_stream_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    chain = [h["by"] for h in man["history"]]
    assert chain[0] == "agg_mv-g001"
    assert chain == [f"agg_mv-g{i:03d}" for i in range(1, len(chain) + 1)]
    assert len(chain) == 5, "4 CDC files at mfpt=1 -> 4 maintenance windows"
    names = set(os.listdir(base))
    assert man["by"] in names
    for gen in chain[:-1]:
        assert gen not in names, f"superseded generation survived: {gen}"
    plan = df._jdf.queryExecution().toString()
    assert "Union" not in plan
    assert "LeftAnti" not in plan
    assert not any(
        t in plan for t in ("lineitem.parquet", "orders.parquet")
    ), "serving must not rescan the base tables"


def test_k19_batching_invariance(spark):
    """Replaying the same CDC under a different micro-batch grouping
    (2 files per trigger instead of 1) lands on the IDENTICAL final MV —
    the signed-partial algebra is associative and commutative, so batch
    boundaries cannot change the state (fewer windows, same answer)."""
    import json
    import os
    import shutil

    from dask_pipes_spark.operators.pipeline_ops import _AGG_MV_SCHEMA
    from dask_pipes_spark.operators.streaming_ops import (
        _agg_mv_step,
        _stage_k19_state,
        k19_stream_agg_ivm,
        run_ivm_stream,
    )
    from dask_pipes_spark.session import scratch_path

    ref = sorted(
        tuple(r) for r in k19_stream_agg_ivm(spark, SF_SMOKE).collect()
    )

    d = scratch_path("dps_k19_invariance")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    _stage_k19_state(spark, SF_SMOKE, d)
    run_ivm_stream(
        spark, d, _agg_mv_step(spark, d), max_files_per_trigger=2, target_files=1
    )
    man = json.load(open(os.path.join(d, "VACUUM.json")))
    chain = [h["by"] for h in man["history"]]
    assert len(chain) == 3, "4 CDC files at mfpt=2 -> 2 maintenance windows"
    mv = spark.read.schema(_AGG_MV_SCHEMA).parquet(
        os.path.join(d, man["by"])
    )
    from pyspark.sql import functions as F

    got = sorted(
        tuple(r)
        for r in mv.select(
            "n_name",
            F.col("cnt").alias("n_items"),
            F.col("rev").cast("double").alias("sum_revenue"),
            F.col("qty").cast("double").alias("sum_qty"),
        ).collect()
    )
    assert got == ref
    shutil.rmtree(d, ignore_errors=True)


# --- k20: streaming ANN index maintenance (round 9) ---------------------------


def test_k20_stream_equals_l65_batch(spark):
    """The streaming-maintained inverted file answers the probe exactly
    as l65's batch delta merge (both equal the from-scratch SQL rebuild
    via the shared oracle)."""
    from dask_pipes_spark.operators.llm_ext import l65_ann_index_delta
    from dask_pipes_spark.operators.streaming_ops import k20_stream_ann_ivm

    a = sorted(tuple(r) for r in l65_ann_index_delta(spark, SF_SMOKE).collect())
    b = sorted(tuple(r) for r in k20_stream_ann_ivm(spark, SF_SMOKE).collect())
    assert a, "probe must be non-empty at sf0.001"
    assert a == b


def test_k20_generation_chain_and_serving_plan(spark):
    """One generation per non-empty micro-batch, monotonic history,
    superseded generations vacuumed; serving plan reads only the final
    generation (no union/anti-join residue, no embeddings rescans)."""
    import json
    import os
    import re

    from dask_pipes_spark.operators.streaming_ops import k20_stream_ann_ivm
    from dask_pipes_spark.session import scratch_path

    df = k20_stream_ann_ivm(spark, SF_SMOKE)
    assert df.count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k20_ann_stream_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    chain = [h["by"] for h in man["history"]]
    assert chain == [f"assignments-g{i:03d}" for i in range(1, len(chain) + 1)]
    assert len(chain) == 5, "4 CDC files at mfpt=1 -> 4 maintenance windows"
    names = set(os.listdir(base))
    assert man["by"] in names and "centroids" in names
    for gen in chain[:-1]:
        assert gen not in names, f"superseded generation survived: {gen}"
    plan = df._jdf.queryExecution().toString()
    assert "Union" not in plan
    assert "LeftAnti" not in plan
    assert "posexplode" not in plan, "training leaked into the serving probe"
    assert not re.search(r"embeddings\.parquet", plan)
    assert plan.count("dps_k20_ann_stream") >= 1


def test_k20_batching_invariance(spark):
    """Insert and tombstone key sets are disjoint, so the per-batch fold
    commutes: a 2-files-per-trigger replay lands on the identical index
    (2 windows instead of 4), probe answers equal."""
    import json
    import os
    import shutil

    from dask_pipes_spark.operators.ann_lifecycle import (
        _IVF_ASSIGN_SCHEMA,
        _delta_step,
        _stage_index,
    )
    from dask_pipes_spark.operators.llm_ext import IVF, _ivf_probe_topk
    from dask_pipes_spark.operators.streaming_ops import (
        k20_stream_ann_ivm,
        run_ivm_stream,
    )
    from dask_pipes_spark.session import scratch_path

    ref = sorted(
        tuple(r) for r in k20_stream_ann_ivm(spark, SF_SMOKE).collect()
    )
    d = scratch_path("dps_k20_invariance")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    _stage_index(IVF, spark, SF_SMOKE, d, cdc=True)
    run_ivm_stream(spark, d, _delta_step(IVF, spark, d), max_files_per_trigger=2)
    man = json.load(open(os.path.join(d, "VACUUM.json")))
    assert len(man["history"]) == 3, "4 files at mfpt=2 -> 2 windows"
    indexed = spark.read.schema(_IVF_ASSIGN_SCHEMA).parquet(
        os.path.join(d, man["by"])
    )
    cent_rows = (
        spark.read.schema("bucket int, ce array<double>, cnrm double")
        .parquet(os.path.join(d, "centroids"))
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in _ivf_probe_topk(
            indexed.select("vec_id", "e", "nrm"), indexed, cent_rows
        ).collect()
    )
    assert got == ref
    shutil.rmtree(d, ignore_errors=True)


# --- k21: streaming LSH index maintenance (round 9) ----------------------------


def test_k21_stream_equals_l75_batch(spark):
    """The streaming-maintained bucket table answers the probe exactly as
    l75's batch delta merge (both equal the from-scratch SQL rebuild via
    the shared oracle)."""
    from dask_pipes_spark.operators.llm_ext import l75_lsh_index_delta
    from dask_pipes_spark.operators.streaming_ops import k21_stream_lsh_ivm

    a = sorted(tuple(r) for r in l75_lsh_index_delta(spark, SF_SMOKE).collect())
    b = sorted(tuple(r) for r in k21_stream_lsh_ivm(spark, SF_SMOKE).collect())
    assert a, "probe must be non-empty at sf0.001"
    assert a == b


def test_k21_generation_chain_and_serving_plan(spark):
    """One generation per non-empty micro-batch, monotonic history,
    superseded generations vacuumed; serving plan reads only the final
    generation — and carries NO hyperplane dot products (the basis never
    re-applies at probe time)."""
    import json
    import os
    import re

    from dask_pipes_spark.operators.streaming_ops import k21_stream_lsh_ivm
    from dask_pipes_spark.session import scratch_path

    df = k21_stream_lsh_ivm(spark, SF_SMOKE)
    assert df.count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k21_lsh_stream_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    chain = [h["by"] for h in man["history"]]
    assert chain == [f"buckets-g{i:03d}" for i in range(1, len(chain) + 1)]
    assert len(chain) == 5, "4 CDC files at mfpt=1 -> 4 maintenance windows"
    names = set(os.listdir(base))
    assert man["by"] in names
    for gen in chain[:-1]:
        assert gen not in names, f"superseded generation survived: {gen}"
    plan = df._jdf.queryExecution().toString()
    assert "Union" not in plan
    assert "LeftAnti" not in plan
    assert not re.search(r"embeddings\.parquet", plan)
    assert plan.count("dps_k21_lsh_stream") >= 1


def test_k21_batching_invariance(spark):
    """Disjoint insert/tombstone key sets make the fold commute: a
    2-files-per-trigger replay lands on the identical bucket table."""
    import json
    import os
    import shutil

    from dask_pipes_spark.operators.ann_lifecycle import (
        _LSH_BUCKET_SCHEMA,
        _delta_step,
        _stage_index,
    )
    from dask_pipes_spark.operators.llm_ext import LSH, _lsh_probe_topk
    from dask_pipes_spark.operators.streaming_ops import (
        k21_stream_lsh_ivm,
        run_ivm_stream,
    )
    from dask_pipes_spark.session import scratch_path

    ref = sorted(
        tuple(r) for r in k21_stream_lsh_ivm(spark, SF_SMOKE).collect()
    )
    d = scratch_path("dps_k21_invariance")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    _stage_index(LSH, spark, SF_SMOKE, d, cdc=True)
    run_ivm_stream(spark, d, _delta_step(LSH, spark, d), max_files_per_trigger=2)
    man = json.load(open(os.path.join(d, "VACUUM.json")))
    assert len(man["history"]) == 3, "4 files at mfpt=2 -> 2 windows"
    indexed = spark.read.schema(_LSH_BUCKET_SCHEMA).parquet(
        os.path.join(d, man["by"])
    )
    got = sorted(tuple(r) for r in _lsh_probe_topk(indexed).collect())
    assert got == ref
    shutil.rmtree(d, ignore_errors=True)


# --- k22: streaming write-audit-publish (round 9) -------------------------------


def test_k22_poison_batch_quarantined_stream_continues(spark):
    """k22 contract: the FK-violating batch (position 2 of 5)
    quarantines — its staged bytes are on disk under a .quarantine name
    and its generation number was REUSED by the next good batch (the
    head chain has no gap); the audit trail records 5 verdicts with
    exactly one quarantine; the drained MV equals k19's poison-free
    state."""
    import json
    import os

    from dask_pipes_spark.operators.streaming_ops import (
        k19_stream_agg_ivm,
        k22_stream_wap,
    )
    from dask_pipes_spark.session import scratch_path

    wap = sorted(tuple(r) for r in k22_stream_wap(spark, SF_SMOKE).collect())
    ref = sorted(
        tuple(r) for r in k19_stream_agg_ivm(spark, SF_SMOKE).collect()
    )
    assert wap, "drained MV must be non-empty at sf0.001"
    assert wap == ref, "the gate must not change the good-batch state"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k22_wap_stream_{tag}")
    audits = json.load(open(os.path.join(base, "AUDIT.json")))
    assert len(audits) == 5
    verdicts = [a["verdict"] for a in audits]
    assert verdicts.count("quarantine") == 1
    assert verdicts.count("publish") == 4
    bad = audits[verdicts.index("quarantine")]
    assert bad["staged_total"] != bad["expected_total"]
    names = set(os.listdir(base))
    quarantined = [n for n in names if ".quarantine-" in n]
    assert len(quarantined) == 1
    assert not any(".staged-" in n for n in names), "no staged residue"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    chain = [h["by"] for h in man["history"]]
    assert chain == [f"agg_mv-g{i:03d}" for i in range(1, 6)], (
        "4 published batches after g001; the quarantined batch takes no "
        "generation number"
    )


def test_stage_slice_file_zero_row_contract(spark, tmp_path):
    """Round-10 advice item: the unified slice-staging helper's contract
    is that a committed coalesce(1) write ALWAYS emits a part file — a
    zero-row slice lands as a schema-only parquet (so k21-style CDC
    builds never raise on empty fixtures, and zero-row windows replay as
    real empty micro-batches)."""
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.streaming import stage_slice_file

    empty = spark.range(10).filter(F.col("id") < 0).select(
        "id", (F.col("id") * 2.0).alias("v")
    )
    dst = str(tmp_path / "slice-00000.parquet")
    stage_slice_file(empty, str(tmp_path / "stage"), dst, 1_700_000_000)
    assert os.path.exists(dst)
    assert int(os.path.getmtime(dst)) == 1_700_000_000
    back = spark.read.parquet(dst)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["id", "v"]


# --- k23/k24: streaming PQ + residual index maintenance (round 10) ------------


def _k23_batch_twin(spark, cent_rows=None):
    """From-scratch Spark twin of k23's composed serving: quantizers
    re-trained on the old slice, assignments/codes re-derived over the
    final corpus by FILTERS (no CDC machinery, no generations) — an
    independent second path that catches staging/merge/layout bugs the
    streaming path could hide."""
    from dask_pipes_spark.operators.llm_ext import (
        _ivf_corpus_and_centroids,
        ivf_assign,
    )
    from dask_pipes_spark.operators.vectors import (
        _pq_assign,
        _pq_corpus,
        _pq_pruned_probe_topk,
        _pq_subspaces,
        _pq_train,
    )
    from pyspark.sql import functions as F

    old_pred = F.col("vec_id") % 9 != 5
    fin_pred = (F.col("vec_id") % 9 == 5) | (F.col("vec_id") % 11 != 3)
    vecs_old, cent = _ivf_corpus_and_centroids(spark, SF_SMOKE, pred=old_pred)
    if cent_rows is None:
        cent_rows = cent.collect()
    vecs_fin, _ = _ivf_corpus_and_centroids(spark, SF_SMOKE, pred=fin_pred)
    assignments = ivf_assign(vecs_fin, cent_rows, nprobe=1).select(
        "vec_id", "bucket"
    )
    v_old, sub_old = _pq_corpus(spark, SF_SMOKE, pred=old_pred)
    cents = _pq_train(v_old, sub_old)
    _, sub_fin = _pq_corpus(spark, SF_SMOKE, pred=fin_pred)
    codes = _pq_assign(sub_fin, cents)
    qvecs, _ = _ivf_corpus_and_centroids(
        spark, SF_SMOKE, pred=(F.col("vec_id") % 100 == 0) & fin_pred
    )
    probes = ivf_assign(qvecs, cent_rows, nprobe=3).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    qsub = _pq_subspaces(qvecs).select("vec_id", "s", "sv")
    return _pq_pruned_probe_topk(qsub, probes, assignments, cents, codes)


def test_k23_stream_equals_batch_rederivation(spark):
    """The streaming-maintained IVF+PQ pair answers the pruned probe
    exactly as the from-scratch batch re-derivation (filters instead of
    CDC, fresh quantizer training instead of persisted artifacts) —
    the Spark-side twin of the composed SQL oracle."""
    from dask_pipes_spark.operators.streaming_ops import k23_stream_pq_ivm

    a = sorted(tuple(r) for r in _k23_batch_twin(spark).collect())
    b = sorted(tuple(r) for r in k23_stream_pq_ivm(spark, SF_SMOKE).collect())
    assert a, "probe must be non-empty at sf0.001"
    assert a == b


def test_k23_generation_chain_and_serving_plan(spark):
    """One PAIRED generation link per non-empty micro-batch (round 11 —
    the atomic transaction), both chains monotonic, superseded
    generations vacuumed; the pruned serving plan reads the two final
    generations + codebooks + the query slice only (no union/anti-join
    residue, no Lloyd leak, no corpus scan)."""
    import json
    import os
    import re

    from dask_pipes_spark.operators.streaming_ops import k23_stream_pq_ivm
    from dask_pipes_spark.session import _link_bys, scratch_path

    df = k23_stream_pq_ivm(spark, SF_SMOKE)
    assert df.count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k23_pq_stream_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    chain = [b for h in man["history"] for b in _link_bys(h)]
    a_chain = [b for b in chain if b.startswith("assignments-")]
    c_chain = [b for b in chain if b.startswith("codes-")]
    assert a_chain == [
        f"assignments-g{i:03d}" for i in range(1, len(a_chain) + 1)
    ]
    assert c_chain == [f"codes-g{i:03d}" for i in range(1, len(c_chain) + 1)]
    assert len(c_chain) == 5, "4 CDC files at mfpt=1 -> 4 maintenance windows"
    assert all(len(_link_bys(h)) == 2 for h in man["history"]), (
        "every window (and the staged init) commits its pair atomically"
    )
    names = set(os.listdir(base))
    assert man["by"] in names and "codebooks" in names and "centroids" in names
    for gen in a_chain[:-1] + c_chain[:-1]:
        assert gen not in names, f"superseded generation survived: {gen}"
    # plan pins on a FRESH (unexecuted) build: after an action, AQE's
    # final plan folds scans into reused query stages, making scan counts
    # execution-order-dependent
    plan = k23_stream_pq_ivm(spark, SF_SMOKE)._jdf.queryExecution().toString()
    assert "Union" not in plan
    assert "LeftAnti" not in plan
    assert "ExistingRDD" not in plan, "Lloyd checkpoint leaked into probe"
    # the probe-bucket subtree and the ADC-grid subtree each scan the
    # QUERY SLICE of embeddings (pushed-down %100 filter, ~0.1% of rows);
    # the corpus itself is never scanned — candidates come from the
    # persisted assignments generation. Counted in the PHYSICAL section
    # only (logical sections print with truncation-dependent verbosity).
    phys = plan.split("== Physical Plan ==")[-1]
    assert len(re.findall(r"embeddings\.parquet", phys)) == 2, (
        "embeddings may be read only for the query slice (2 subtrees)"
    )
    assert phys.count(a_chain[-1]) >= 1, "pruning reads the assignments gen"
    assert phys.count(c_chain[-1]) >= 1


def test_k23_batching_invariance(spark):
    """Insert and tombstone key sets are disjoint and both tables are
    keyed, so the per-batch fold commutes: a 2-files-per-trigger replay
    lands on the identical generation pair, pruned probe equal."""
    import json
    import os
    import shutil

    from dask_pipes_spark.operators.ann_lifecycle import (
        _CENT_SCHEMA,
        _SLIM_ASSIGN_SCHEMA,
        _delta_step,
        _stage_index,
    )
    from dask_pipes_spark.operators.streaming_ops import (
        k23_stream_pq_ivm,
        run_ivm_stream,
    )
    from dask_pipes_spark.operators.llm_ext import (
        _ivf_corpus_and_centroids,
        ivf_assign,
    )
    from dask_pipes_spark.operators.vectors import (
        IVFPQ,
        _pq_pruned_probe_topk,
        _pq_subspaces,
    )
    from dask_pipes_spark.session import _link_bys, scratch_path
    from pyspark.sql import functions as F

    ref = sorted(tuple(r) for r in k23_stream_pq_ivm(spark, SF_SMOKE).collect())
    d = scratch_path("dps_k23_invariance")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    _stage_index(IVFPQ, spark, SF_SMOKE, d, cdc=True)
    run_ivm_stream(spark, d, _delta_step(IVFPQ, spark, d), max_files_per_trigger=2)
    man = json.load(open(os.path.join(d, "VACUUM.json")))
    assert len(man["history"]) == 3, "init pair + 2 windows at mfpt=2"
    bys = [b for h in man["history"] for b in _link_bys(h)]
    cent_rows = (
        spark.read.schema(_CENT_SCHEMA)
        .parquet(os.path.join(d, "centroids"))
        .collect()
    )
    cents = spark.read.schema("s int, cid int, cv array<double>").parquet(
        os.path.join(d, "codebooks")
    )
    assignments = spark.read.schema(_SLIM_ASSIGN_SCHEMA).parquet(
        os.path.join(d, [b for b in bys if b.startswith("assignments-")][-1])
    )
    codes = spark.read.schema("vec_id bigint, s int, code int").parquet(
        os.path.join(d, [b for b in bys if b.startswith("codes-")][-1])
    )
    qvecs, _ = _ivf_corpus_and_centroids(
        spark,
        SF_SMOKE,
        pred=(F.col("vec_id") % 100 == 0)
        & ((F.col("vec_id") % 9 == 5) | (F.col("vec_id") % 11 != 3)),
    )
    probes = ivf_assign(qvecs, cent_rows, nprobe=3).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    qsub = _pq_subspaces(qvecs).select("vec_id", "s", "sv")
    got = sorted(
        tuple(r)
        for r in _pq_pruned_probe_topk(
            qsub, probes, assignments, cents, codes
        ).collect()
    )
    assert got == ref
    shutil.rmtree(d, ignore_errors=True)


def test_k24_stream_equals_l77_batch(spark):
    """The streaming-maintained residual-IVFADC pair answers the probe
    exactly as l77's batch two-table delta merge."""
    from dask_pipes_spark.operators.streaming_ops import (
        k24_stream_residual_ivm,
    )
    from dask_pipes_spark.operators.vectors import l77_residual_index_delta

    a = sorted(
        tuple(r) for r in l77_residual_index_delta(spark, SF_SMOKE).collect()
    )
    b = sorted(
        tuple(r) for r in k24_stream_residual_ivm(spark, SF_SMOKE).collect()
    )
    assert a, "probe must be non-empty at sf0.001"
    assert a == b


def test_k24_generation_chains_and_serving_plan(spark):
    """TWO interleaved per-table chains in one VACUUM history (the l78
    multi-table shape, now ONE PAIRED LINK per window — round 11's
    atomic transaction), both monotonic, all superseded generations
    vacuumed; serving reads the two final generations + the persisted
    quantizers only — no merge residue, no Lloyd leak, zero embeddings
    scans."""
    import json
    import os
    import re

    from dask_pipes_spark.operators.streaming_ops import (
        k24_stream_residual_ivm,
    )
    from dask_pipes_spark.session import _link_bys, scratch_path

    df = k24_stream_residual_ivm(spark, SF_SMOKE)
    assert df.count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k24_rivf_stream_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    chain = [b for h in man["history"] for b in _link_bys(h)]
    a_chain = [b for b in chain if b.startswith("assignments-")]
    c_chain = [b for b in chain if b.startswith("codes-")]
    assert a_chain == [
        f"assignments-g{i:03d}" for i in range(1, len(a_chain) + 1)
    ]
    assert c_chain == [f"codes-g{i:03d}" for i in range(1, len(c_chain) + 1)]
    assert len(a_chain) == 5 and len(c_chain) == 5, (
        "4 CDC files at mfpt=1 -> 4 windows, one generation pair each"
    )
    # round 11: each maintenance window commits its pair ATOMICALLY —
    # one link carrying both moves (the two staged g001s predate the
    # stream and are single-table links)
    window_links = [h for h in man["history"] if len(_link_bys(h)) == 2]
    assert len(window_links) == 4, "one paired link per window"
    for h in window_links:
        a, c = _link_bys(h)
        assert a.startswith("assignments-") and c.startswith("codes-")
        assert a.rsplit("g", 1)[1] == c.rsplit("g", 1)[1], (
            "the pair advances in lockstep"
        )
    names = set(os.listdir(base))
    for kept in (a_chain[-1], c_chain[-1], "centroids", "codebooks"):
        assert kept in names, f"missing surviving artifact: {kept}"
    for gen in a_chain[:-1] + c_chain[:-1]:
        assert gen not in names, f"superseded generation survived: {gen}"
    plan = df._jdf.queryExecution().toString()
    assert "Union" not in plan
    assert "LeftAnti" not in plan
    assert "ExistingRDD" not in plan
    assert "posexplode" not in plan
    assert not re.search(r"embeddings\.parquet", plan)
    assert plan.count("dps_k24_rivf_stream") >= 4  # 2 gens + 2 quantizers


def test_k24_batching_invariance(spark):
    """Disjoint insert/tombstone key sets keep the two-table fold
    commutative: a 2-files-per-trigger replay lands on the identical
    generation pair, probe answers equal."""
    import json
    import os
    import shutil

    from dask_pipes_spark.operators.ann_lifecycle import (
        _CENT_SCHEMA,
        _IVF_ASSIGN_SCHEMA,
        _PQ_CENTS_SCHEMA,
        _PQ_CODES_SCHEMA,
        _delta_step,
        _stage_index,
    )
    from dask_pipes_spark.operators.streaming_ops import (
        k24_stream_residual_ivm,
        run_ivm_stream,
    )
    from dask_pipes_spark.operators.vectors import RIVF, _residual_probe
    from dask_pipes_spark.session import scratch_path

    ref = sorted(
        tuple(r) for r in k24_stream_residual_ivm(spark, SF_SMOKE).collect()
    )
    d = scratch_path("dps_k24_invariance")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    _stage_index(RIVF, spark, SF_SMOKE, d, cdc=True)
    run_ivm_stream(spark, d, _delta_step(RIVF, spark, d), max_files_per_trigger=2)
    man = json.load(open(os.path.join(d, "VACUUM.json")))
    assert len(man["history"]) == 4, (
        "2 initial links + 2 windows x 1 atomic pair link"
    )
    from dask_pipes_spark.session import _link_bys

    bys = [b for h in man["history"] for b in _link_bys(h)]
    cent = spark.read.schema(_CENT_SCHEMA).parquet(
        os.path.join(d, "centroids")
    )
    cent_rows = cent.collect()
    indexed = spark.read.schema(_IVF_ASSIGN_SCHEMA).parquet(
        os.path.join(d, [b for b in bys if b.startswith("assignments-")][-1])
    )
    cents = spark.read.schema(_PQ_CENTS_SCHEMA).parquet(
        os.path.join(d, "codebooks")
    )
    codes = spark.read.schema(_PQ_CODES_SCHEMA).parquet(
        os.path.join(d, [b for b in bys if b.startswith("codes-")][-1])
    )
    got = sorted(
        tuple(r)
        for r in _residual_probe(
            indexed, cent, cent_rows, cents, codes
        ).collect()
    )
    assert got == ref
    shutil.rmtree(d, ignore_errors=True)


def test_k25_gc_rides_the_stream(spark):
    """k25 contract: planted crash debris is swept by the per-window GC
    while the stream maintains the MV (quarantine kept, chain and head
    untouched), and the drained MV equals k19's."""
    import json
    import os

    from dask_pipes_spark.operators.streaming_ops import (
        k19_stream_agg_ivm,
        k25_stream_gc,
    )
    from dask_pipes_spark.session import scratch_path

    got = sorted(tuple(r) for r in k25_stream_gc(spark, SF_SMOKE).collect())
    ref = sorted(
        tuple(r) for r in k19_stream_agg_ivm(spark, SF_SMOKE).collect()
    )
    assert got, "drained MV must be non-empty at sf0.001"
    assert got == ref, "in-loop GC must not change the maintained state"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k25_gc_stream_{tag}")
    names = set(os.listdir(base))
    assert "agg_mv-g001.tmp" not in names, "torn tmp must be swept"
    assert "agg_mv-g001.staged-crashed" not in names, "staged debris swept"
    assert "agg_mv-g000.quarantine-bad" in names, "quarantine survives GC"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    chain = [h["by"] for h in man["history"]]
    assert chain == [f"agg_mv-g{i:03d}" for i in range(1, len(chain) + 1)]
    assert man["by"] in names and "bridge" in names and "cdc" in names
    for gen in chain[:-1]:
        assert gen not in names, f"superseded generation survived: {gen}"


def test_k26_compaction_rides_the_stream(spark):
    """k26 contract (round 12): with gc + compact_manifest(keep_tail=1)
    running in every foreachBatch window, the drained MV still equals
    k19's, the manifest tail stays BOUNDED (not one link per window),
    the folded prefix is accounted in checkpoint.folded, and serving
    reads exactly the head generation."""
    import json
    import os

    from dask_pipes_spark.operators.streaming_ops import (
        k19_stream_agg_ivm,
        k26_stream_compaction,
    )
    from dask_pipes_spark.session import scratch_path

    got = sorted(tuple(r) for r in k26_stream_compaction(spark, SF_SMOKE).collect())
    ref = sorted(
        tuple(r) for r in k19_stream_agg_ivm(spark, SF_SMOKE).collect()
    )
    assert got, "drained MV must be non-empty at sf0.001"
    assert got == ref, "in-loop compaction must not change the state"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k26_compact_stream_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    # bounded metadata: the stream committed g001..g005 (4 CDC windows),
    # but the rewritten history holds at most keep_tail+1 links — the
    # rest folded into the checkpoint record
    assert len(man["history"]) <= 2, man["history"]
    ck = man.get("checkpoint") or {}
    assert ck.get("folded", 0) >= 3, ck
    # the head is the newest generation, on disk, and every superseded
    # generation is vacuumed
    names = set(os.listdir(base))
    assert man["by"] in names
    for h in man["history"]:
        for sup in h["superseded"]:
            assert sup not in names, f"superseded survived: {sup}"
    # folded heads never resurface as live dirs
    for head in ck.get("heads", []):
        assert head == man["by"] or head in ("bridge", "cdc") or head in names


def test_k27_stream_equals_l84_batch_lifecycle(spark):
    """k27 contract (round 12): the STREAMED windows land exactly the
    state l84's one-shot batch lifecycle lands — same quantizers (data-
    derived K), same final pair — so the served probes are identical;
    and batching invariance: 2-files-per-trigger == 1-file-per-trigger."""
    from dask_pipes_spark.operators.ann_lifecycle import _delta_step, _stage_index
    from dask_pipes_spark.operators.streaming_ops import (
        k27_stream_kivfpq_ivm,
        run_ivm_stream,
    )
    from dask_pipes_spark.operators.vectors import (
        KIVFPQ,
        _serve_kivfpq,
        l84_kmeans_ivfpq_serving,
    )
    from dask_pipes_spark.session import ensure_index, scratch_path
    import os

    a = sorted(
        tuple(r) for r in l84_kmeans_ivfpq_serving(spark, SF_SMOKE).collect()
    )
    b = sorted(
        tuple(r) for r in k27_stream_kivfpq_ivm(spark, SF_SMOKE).collect()
    )
    assert a, "probe must be non-empty at sf0.001"
    assert a == b, "streamed IVM == batch lifecycle"

    # batching invariance at mfpt=2
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base2 = scratch_path(f"dps_k27_kivfpq_stream2_{tag}")

    def _stage2(d: str) -> None:
        _stage_index(KIVFPQ, spark, SF_SMOKE, d, cdc=True)
        run_ivm_stream(
            spark, d, _delta_step(KIVFPQ, spark, d), max_files_per_trigger=2
        )

    idx2 = ensure_index(
        base2,
        os.path.join(SF_SMOKE, "embeddings.parquet"),
        version="k27-mfpt2-v1",
        build=_stage2,
    )
    c = sorted(
        tuple(r) for r in _serve_kivfpq(spark, SF_SMOKE, idx2).collect()
    )
    assert b == c, "window batching must not change the final state"


def test_k27_generation_chain_and_serving_plan(spark):
    """k27's manifest: ONE N=4 init transaction then one paired link per
    non-empty window; superseded generations vacuumed; the serving plan
    reads the four persisted heads + the query slice only (no Lloyd
    leak, no merge residue, no corpus scan)."""
    import json
    import os
    import re

    from dask_pipes_spark.operators.streaming_ops import (
        k27_stream_kivfpq_ivm,
    )
    from dask_pipes_spark.session import _link_bys, scratch_path

    df = k27_stream_kivfpq_ivm(spark, SF_SMOKE)
    assert df.count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_k27_kivfpq_stream_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    shapes = [len(_link_bys(h)) for h in man["history"]]
    assert shapes[0] == 4, "init commits all four tables atomically"
    assert all(s == 2 for s in shapes[1:]), "each window commits its pair"
    chain = [b for h in man["history"] for b in _link_bys(h)]
    a_chain = [b for b in chain if b.startswith("assignments-")]
    c_chain = [b for b in chain if b.startswith("codes-")]
    assert a_chain == [
        f"assignments-g{i:03d}" for i in range(1, len(a_chain) + 1)
    ]
    assert c_chain == [f"codes-g{i:03d}" for i in range(1, len(c_chain) + 1)]
    assert len(c_chain) == 5, "4 CDC files at mfpt=1 -> 4 windows"
    names = set(os.listdir(base))
    for head in ("centroids-g001", "codebooks-g001"):
        assert head in names, f"quantizer head missing: {head}"
    for gen in a_chain[:-1] + c_chain[:-1]:
        assert gen not in names, f"superseded generation survived: {gen}"
    plan = k27_stream_kivfpq_ivm(spark, SF_SMOKE)._jdf.queryExecution().toString()
    assert "Union" not in plan
    assert "LeftAnti" not in plan
    assert "ExistingRDD" not in plan, "Lloyd checkpoint leaked into probe"
    phys = plan.split("== Physical Plan ==")[-1]
    assert len(re.findall(r"embeddings\.parquet", phys)) == 2, (
        "embeddings read only for the query slice (probe + grid subtrees)"
    )
    # deep trees truncate FileScan Location strings, so pin the persisted
    # heads through inputFiles() (the actual file sources) instead
    files = "\n".join(
        k27_stream_kivfpq_ivm(spark, SF_SMOKE).inputFiles()
    )
    for head in (
        "centroids-g001", "codebooks-g001",
        a_chain[-1], c_chain[-1],
    ):
        assert head in files, f"serving must read persisted head {head}"
