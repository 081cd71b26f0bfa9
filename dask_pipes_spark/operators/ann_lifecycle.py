"""The ANN index lifecycle: one protocol for every maintained vector-index
family (IVF, sign-LSH, PQ, residual IVFADC, the IVF+PQ pair and the
k-means IVFPQ world).

Every family restates one algebra. Yesterday's index is built from the
``vec_id % 9 != 5`` slice; the CDC day inserts the held-out ``% 9 == 5``
slice and tombstones ``% 11 == 3`` of yesterday's vectors; maintenance is
``state ⋈anti del ∪ assign(ins)`` against FIXED quantizers (a trained
codebook or a seeded basis) — partition-local map-side work over a frozen
summarization, the build/maintain split of EDBT 2019's streaming
similarity search and Odyssey (VLDB 2023). Inserts and tombstones have
disjoint keys, so the fold commutes across any batching of the delta.

The kit:

- :class:`IndexFamily` — what differs per family: its persisted names and
  layouts, its build over a corpus slice, its insert-feed projection and
  its assigner (the family records live beside their primitives in
  ``llm_ext`` and ``vectors``);
- :func:`_stage_index` — yesterday's state plus the day's CDC, written as
  the batch feeds (``delta_ins``/``delta_del``) or as CDC stream slices;
- :func:`_read_state` / :func:`_read_heads` — schema-explicit read-back;
- :func:`_delta_merge` — the delete-then-assign merge;
- :func:`_merged_feeds` / :func:`_checkpoint_feeds` — the batch merge,
  served at probe time or committed as generation 2;
- :func:`_delta_step` — the same merge as a :func:`run_ivm_stream` step.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from dask_pipes_spark.session import (
    checkpoint_index_generations,
    fanout,
    head_generations,
    load,
)

# --- table layouts: one constant per layout ----------------------------------

_CENT_SCHEMA = "bucket int, ce array<double>, cnrm double"  # IVF coarse codebook
_IVF_ASSIGN_SCHEMA = "vec_id bigint, e array<double>, nrm double, bucket int"
_SLIM_ASSIGN_SCHEMA = "vec_id bigint, bucket int"  # membership-only inverted file
_LSH_BUCKET_SCHEMA = "vec_id bigint, e array<double>, nrm double, bucket bigint"
_PQ_CENTS_SCHEMA = "s int, cid int, cv array<double>"
_PQ_CODES_SCHEMA = "vec_id bigint, s int, code int"
_CK_CENTS_SCHEMA = "cid int, cv array<double>"  # k-means coarse codebook
_EMBED_SCHEMA = "vec_id bigint, e array<double>, nrm double"
_VEC_SCHEMA = "vec_id bigint, e array<double>"
_SUB_SCHEMA = "vec_id bigint, s int, sv array<double>"
_KEYS_SCHEMA = "vec_id bigint"

# --- the corpus slices of the CDC day ----------------------------------------

#: DuckDB-twin spellings: the quantizers' training slice, the final corpus
_OLD_SQL = "vec_id % 9 <> 5"
_FINAL_SQL = "(vec_id % 9 = 5 OR vec_id % 11 <> 3)"


def _old_slice():
    """Yesterday's corpus: every vector but the held-out insert slice."""
    return F.col("vec_id") % 9 != 5


def _ins_slice():
    """The day's inserts: the held-out slice."""
    return F.col("vec_id") % 9 == 5


def _del_slice():
    """The day's tombstones, drawn from yesterday's corpus."""
    return _old_slice() & (F.col("vec_id") % 11 == 3)


def _final_slice():
    """The corpus after the day: inserts plus yesterday's survivors."""
    return _ins_slice() | (F.col("vec_id") % 11 != 3)


def _embedding_frame(spark, sf_dir: str, pred=None, *keep: str):
    """The raw corpus as ``(vec_id, *keep, e: array<double>, nrm)``,
    restricted to ``pred`` — the projection every index build and every
    insert feed starts from."""
    e = fanout(load(spark, sf_dir, "embeddings"))
    if pred is not None:
        e = e.filter(pred)
    return e.select(
        "vec_id",
        *keep,
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).withColumn(
        "nrm", F.sqrt(F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x))
    )


# --- the family record -------------------------------------------------------


@dataclass(frozen=True)
class IndexFamily:
    """One maintained index family.

    - ``quantizers``: the fixed artifacts assignment reads (codebooks,
      centroids); never touched by maintenance.
    - ``tables``: the maintained state tables, in commit order.
    - ``schemas``: the layout of every persisted name, ``delta_ins``
      (the insert feed) included.
    - ``build(spark, sf_dir, pred) -> {name: frame}``: the quantizers and
      tables over a corpus slice, quantizers first.
    - ``assigner(quantizers) -> (ins -> {table: frame})``: collects what
      must ride as driver literals once, then assigns any insert frame.
    - ``feed``: the insert-feed projection of :func:`_embedding_frame`.
    - ``born``: the batch state is born as ``-g001`` generations (streams
      always are, since their heads must resolve from the manifest).
    - ``births``: the groups of names each ``-g001`` link commits
      together; by default one link of all tables.
    """

    quantizers: tuple[str, ...]
    tables: tuple[str, ...]
    schemas: dict
    build: Callable
    assigner: Callable
    feed: Callable = lambda frame: frame  # noqa: E731
    born: bool = False
    births: tuple[tuple[str, ...], ...] = ()


def _stage_index(
    fam: IndexFamily, spark, sf_dir: str, d: str, cdc: bool = False
) -> None:
    """Stage yesterday's persisted index and the day's CDC into ``d``.

    The state is ``fam.build`` over the old slice: plain tables for a
    batch family, ``-g001`` births (``fam.births`` links, 8 files each)
    for a born family or a stream. The delta is written from the same two
    frames either way: the insert feed and the tombstone keys land as the
    batch feeds ``delta_ins``/``delta_del``, or (``cdc``) as 4 CDC slices
    of typed rows — inserts ``op='I'``, tombstones ``op='D'`` with the
    payload nulled — sliced by ``vec_id % 4``."""
    frames = fam.build(spark, sf_dir, _old_slice())
    links = (fam.births or (fam.tables,)) if cdc or fam.born else ()
    linked = {name for link in links for name in link}
    _write_tables({n: f for n, f in frames.items() if n not in linked}, d)
    for link in links:
        checkpoint_index_generations(
            d, [(frames[n], [], f"{n}-g001") for n in link], target_files=8
        )
    ins = fam.feed(_embedding_frame(spark, sf_dir, _ins_slice()))
    dels = _embedding_frame(spark, sf_dir, _del_slice()).select("vec_id")
    if cdc:
        from dask_pipes_spark.operators.streaming_ops import _stage_cdc_slices

        nulls = [F.lit(None).cast(t).alias(c) for c, t in ins.dtypes if c != "vec_id"]
        cdc_rows = ins.withColumn("op", F.lit("I")).unionAll(
            dels.select("vec_id", *nulls).withColumn("op", F.lit("D"))
        )
        _stage_cdc_slices(cdc_rows, d, F.col("vec_id"))
    else:
        ins.write.mode("overwrite").parquet(os.path.join(d, "delta_ins"))
        dels.write.mode("overwrite").parquet(os.path.join(d, "delta_del"))


def _write_tables(frames: dict, d: str) -> None:
    for name, frame in frames.items():
        frame.write.mode("overwrite").parquet(os.path.join(d, name))


def _build_index(fam: IndexFamily, spark, sf_dir: str, d: str) -> None:
    """Persist ``fam``'s full-corpus index as plain tables — everything its
    probe needs, so the raw corpus is never read again."""
    _write_tables(fam.build(spark, sf_dir, None), d)


def _read_state(spark, fam: IndexFamily, d: str, names) -> dict:
    """Scan persisted names of ``d`` (plain tables, ``-gNNN`` generations,
    feeds) with their layouts, keyed by table: ``assignments-g002`` reads
    as ``assignments``."""
    out = {}
    for name in names:
        table = name.rsplit("-g", 1)[0]
        schema = _KEYS_SCHEMA if table == "delta_del" else fam.schemas[table]
        out[table] = spark.read.schema(schema).parquet(os.path.join(d, name))
    return out


def _read_heads(spark, fam: IndexFamily, d: str) -> dict:
    """Every quantizer and table of ``d`` at its head: the newest committed
    generation, or the plain table while none is committed."""
    heads = head_generations(d)
    return _read_state(
        spark, fam, d, [heads.get(f"{n}-", n) for n in fam.quantizers + fam.tables]
    )


def _delta_merge(state: dict, ins: dict, d_del) -> dict:
    """The maintenance algebra, per table: broadcast anti-join of the
    tombstones, then append the assigned inserts."""
    return {
        t: frame.join(F.broadcast(d_del), "vec_id", "left_anti").unionAll(ins[t])
        for t, frame in state.items()
    }


def _merged_feeds(fam: IndexFamily, spark, d: str) -> dict:
    """The staged state of ``d`` with its batch feeds applied: quantizers
    as persisted, tables merged. Reads only persisted tables."""
    st = _read_heads(spark, fam, d)
    feeds = _read_state(spark, fam, d, ["delta_ins", "delta_del"])
    assign = fam.assigner({q: st[q] for q in fam.quantizers})
    tables = {t: st.pop(t) for t in fam.tables}
    merged = _delta_merge(tables, assign(feeds["delta_ins"]), feeds["delta_del"])
    return {**st, **merged}


def _checkpoint_feeds(
    fam: IndexFamily, spark, d: str, retain: int = 0, target_files: int = 1
) -> None:
    """Write the batch merge back: every merged table lands as ``-g002``
    (yesterday's state is generation 1, plain or born) under ONE manifest
    link that supersedes the state tables and both feeds, so a reader
    never sees one table moved without its siblings."""
    heads = head_generations(d)
    merged = _merged_feeds(fam, spark, d)
    moves = [(merged[t], [heads.get(f"{t}-", t)], f"{t}-g002") for t in fam.tables]
    moves[-1][1].extend(["delta_ins", "delta_del"])
    checkpoint_index_generations(d, moves, retain=retain, target_files=target_files)


def _delta_step(fam: IndexFamily, spark, d: str):
    """``fam``'s :func:`run_ivm_stream` step: each window merges its CDC
    batch into the CURRENT heads. The quantizers are read (and any driver
    literal collected) once, before the stream starts — they are exactly
    what does not change per batch."""
    quantizers = _read_heads(spark, fam, d)
    assign = fam.assigner({q: quantizers[q] for q in fam.quantizers})

    def step(batch_df, heads):
        state = _read_state(
            batch_df.sparkSession, fam, d, [heads[f"{t}-"] for t in fam.tables]
        )
        ins = batch_df.filter(F.col("op") == "I").drop("op")
        d_del = batch_df.filter(F.col("op") == "D").select("vec_id")
        merged = _delta_merge(state, assign(ins), d_del)
        return {f"{t}-": frame for t, frame in merged.items()}

    return step
