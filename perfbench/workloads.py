"""The benchmark's workloads and the harness that times them.

Every op is one registry call, ``QUERIES[key](spark, sf_dir)``, followed by
a full fetch of its result (``toPandas``). Nothing else touches the
session: no caches, layouts or conf overrides beyond ``get_session``'s own.

A run is: generate the seeded input dir, start the session, warm every key
(once, or ``Workload.warmup`` times; the first call builds the
``ensure_index`` indexes the serving keys read),
measure the dispatch floor, time rounds of ops until ``seconds`` have
passed, measure the floor again, stop Spark, and check every op's rows
against the key's DuckDB oracle on the same dir. A round is a seeded
permutation of the workload's menu, and only whole rounds are timed, so
every run of a workload times the same multiset of ops.

A traced run does the same, then times a second pass with span wrappers
installed and reports per-layer metrics from it; the ratio of the two
passes' median op times is the tracing overhead.
"""

from __future__ import annotations

import os
import random
import re
import resource
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

import gen
import spans
from spans import Recorder, StreamListener, Wrappers, clip, union_ms

SERVE_MENU = (
    ("analytic", "d3_groupby_multi"),
    ("analytic", "x1_shipping_priority"),
    ("analytic", "e10_topk_per_group"),
    ("analytic", "f2_topk"),
    ("analytic", "g5_intersect"),
    ("pipeline", "p1_pipeline_fit_transform"),
    ("pipeline", "p2_fitted_preprocess"),
    ("pipeline", "p9_dag_pipeline"),
    ("ann", "l62_ann_index_persist"),
    ("ann", "l64_lsh_index_persist"),
    # the maintenance job beside the serving session: its state is reset
    # before every call, so each call stages CDC and drains it through
    # Structured Streaming, one generation per micro-batch
    ("ivm", "k19_stream_agg_ivm"),
)


@dataclass(frozen=True)
class Workload:
    name: str
    menu: tuple[tuple[str, str], ...]
    sf: float
    dedup: dict | None = None
    #: set-up calls of each distinct key before the timed rounds
    warmup: int = 1


WORKLOADS = {
    # a chain is ~24 small Spark jobs, so its time falls with the JVM's
    # warm-up over a dozen calls (13 s, 5.7 s, 4.5 s, then 3-4 s), and a
    # contended host slows it most while the JIT compiler is busiest: three
    # set-up chains take the steep part out of the timed round, and the
    # median of a round of two chains is their mean, where the middle of
    # three would be the slower of the two later ones
    "dedup_batch": Workload(
        "dedup_batch", (("dedup", "l18_dup_components"),) * 2, 0.01,
        dedup=dict(n_base=600, clusters=50, variants=3, viral=40), warmup=3,
    ),
    "serve_mix": Workload("serve_mix", SERVE_MENU, 0.01),
}

#: The self-test size: sf0.001 tables and a small dedup corpus.
SMALL = {"sf": 0.001, "dedup": dict(n_base=300, clusters=30, variants=3, viral=12)}

#: The two dispatch-floor anchors of one run may differ by this share (the
#: benchmark bound) before the run's window is flagged as suspect.
FLOOR_BOUND = 0.25


@dataclass
class Op:
    key: str
    cls: str
    phase: str  # "warmup", "timed", "traced" or "untraced" (after "traced")
    ms: float = 0.0
    error: str | None = None
    rows: object = None
    layers: dict = field(default_factory=dict)
    batches: list = field(default_factory=list)


class Floor:
    """Deep-warm dispatch floor: median count over a cached 5-row frame.
    The frame is cached and warmed during set-up, so the anchors taken
    before and after the timed ops measure the same steady state."""

    def __init__(self, spark, warm: int = 10):
        self.df = spark.createDataFrame([(i,) for i in range(5)], "i int").cache()
        for _ in range(warm):
            self.df.count()

    def ms(self, n: int = 7) -> float:
        ts = []
        for _ in range(n):
            t = time.perf_counter()
            self.df.count()
            ts.append((time.perf_counter() - t) * 1000.0)
        return statistics.median(ts)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest of p50..p99.9 that leaves at
    least ten samples beyond it."""
    v = sorted(values)
    n = len(v)
    pct = 50.0
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        if n * (1 - p / 100.0) >= 10:
            pct = p
    q = v[min(n - 1, int(round(pct / 100.0 * (n - 1))))]
    return q, pct, n


def scratch_root() -> str:
    from dask_pipes_spark.session import scratch_path

    return os.path.dirname(scratch_path("x"))


def scratch_entries() -> dict[str, int]:
    """Name -> mtime of every entry under the scratch root."""
    root = scratch_root()
    return {n: os.stat(os.path.join(root, n)).st_mtime_ns for n in os.listdir(root)}


def check_generations(owned: list[str]) -> dict:
    """Assert the drain committed one generation per CDC slice on top of the
    staged one, and measure the manifest and head generation(s)."""
    import json

    root = scratch_root()
    dirs = [
        os.path.join(root, n) for n in owned
        if os.path.isfile(os.path.join(root, n, "VACUUM.json"))
    ]
    if len(dirs) != 1:
        raise AssertionError(f"expected one generation dir among {owned}")
    d = dirs[0]
    slices = [f for f in os.listdir(os.path.join(d, "cdc")) if f.endswith(".parquet")]
    with open(os.path.join(d, "VACUUM.json")) as fh:
        man = json.load(fh)
    head = int(re.search(r"g(\d+)$", man["by"]).group(1))
    if head != 1 + len(slices):
        raise AssertionError(
            f"{os.path.basename(d)}: head generation g{head:03d} after draining "
            f"{len(slices)} CDC slices; expected g{1 + len(slices):03d}"
        )
    gen_bytes = gen_files = 0
    for by in man.get("bys") or [man["by"]]:
        for walk_root, _, files in os.walk(os.path.join(d, by)):
            gen_files += len(files)
            gen_bytes += sum(os.path.getsize(os.path.join(walk_root, f)) for f in files)
    return {
        "session.manifest_bytes": os.path.getsize(os.path.join(d, "VACUUM.json")),
        "session.gen_bytes": gen_bytes,
        "session.gen_files": gen_files,
    }


def trace_targets():
    """(owner, attribute, span name) of every wrapped public function."""
    from dask_pipes_spark import pipeline, session, streaming
    from dask_pipes_spark.operators import llm_ops

    return [
        (llm_ops, "minhash_signatures", "llm_ops.minhash"),
        (llm_ops, "lsh_star_edges", "llm_ops.lsh"),
        (llm_ops, "connected_components", "llm_ops.cc"),
        (pipeline.Pipeline, "fit_transform", "pipeline.fit"),
        (pipeline.Pipeline, "transform", "pipeline.transform"),
        (pipeline.DagPipeline, "fit_transform", "pipeline.fit"),
        (pipeline.DagPipeline, "transform", "pipeline.transform"),
        (session, "ensure_index", "session.ensure_index"),
        (session, "checkpoint_index_generation", "session.commit"),
        (session, "checkpoint_index_generations", "session.commit"),
        (session, "publish_generation", "session.commit"),
        (streaming, "drain", "streaming.drain"),
    ]


class Harness:
    def __init__(self, wl: Workload, seed: int, seconds: float, work: str,
                 small: bool = False):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        # the dir name keys the engine's scratch paths for these inputs
        self.data = os.path.join(work, f"pb_{wl.name}")
        self.sf = SMALL["sf"] if small else wl.sf
        self.dedup = (SMALL["dedup"] if small else wl.dedup) if wl.dedup else None
        self.ops: list[Op] = []
        self.rng = random.Random(seed)
        self.spark: SparkSession | None = None
        self.listener = StreamListener()
        self.rec: Recorder | None = None
        self.lsh_frames: list = []
        #: scratch entries each streaming key's first call created
        self.owned: dict[str, list[str]] = {}

    # -- ops -------------------------------------------------------------
    def _call(self, cls: str, key: str, phase: str, op_id: int | None = None) -> Op:
        """Time one op; with ``op_id`` (a traced op) also record its spans."""
        from dask_pipes_spark.registry import QUERIES

        ivm = cls == "ivm"
        if ivm:
            self._reset(key)
        before = scratch_entries() if ivm and key not in self.owned else None
        traced = op_id is not None
        span = self.rec.span if traced else _no_span
        op = Op(key, cls, phase)
        nr, nb = self.listener.snapshot()
        if traced:
            self.rec.op = op_id
        t = time.perf_counter()
        try:
            with span("op"):
                with span("driver.plan_build"):
                    df = QUERIES[key](self.spark, self.data)
                if traced:
                    with span("driver.catalyst"):
                        df._jdf.queryExecution().executedPlan()
                with span("driver.action"):
                    op.rows = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            op.error = f"{type(exc).__name__}: {exc}"[:500]
        op.ms = (time.perf_counter() - t) * 1000.0
        if traced:
            self.rec.op = None
        if before is not None:
            after = scratch_entries()
            self.owned[key] = sorted(n for n, m in after.items() if before.get(n) != m)
        if ivm and op.error is None:
            self._settle_batches(nb)
            op.batches = self.listener.batches[nb:]
            try:
                op.layers.update(check_generations(self.owned[key]))
            except AssertionError as exc:
                op.error = str(exc)
        if traced:
            op.layers.update(self._op_layers(op, op_id, self.listener.runs[nr:]))
        return op

    def _reset(self, key: str) -> None:
        """Remove the scratch entries ``key``'s first call created or
        replaced (its persisted state), so the call stages and drains again.
        Entries other keys own, such as the serving indexes, stay."""
        root = scratch_root()
        for name in self.owned.get(key, []):
            p = os.path.join(root, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)

    def _settle_batches(self, before: int, wait_s: float = 5.0) -> None:
        """Progress events arrive asynchronously; wait until they stop."""
        deadline = time.monotonic() + wait_s
        last, quiet = -1, 0
        while time.monotonic() < deadline and quiet < 3:
            n = self.listener.snapshot()[1]
            quiet = quiet + 1 if n == last and n > before else 0
            last = n
            time.sleep(0.05)

    def _rounds(self, call) -> None:
        """Whole seeded rounds of the menu until ``seconds`` have passed."""
        t_end = time.perf_counter() + self.seconds
        while True:
            menu = list(self.wl.menu)
            self.rng.shuffle(menu)
            for cls, key in menu:
                self.ops.append(call(cls, key))
            if time.perf_counter() >= t_end:
                break

    # -- per-layer numbers of one traced op ---------------------------------
    def _op_layers(self, op: Op, op_id: int, runs: list[str]) -> dict:
        sc = self.spark.sparkContext
        op_spans = [s for s in self.rec.spans if s.op == op_id]
        self.rec.resolve_jobs(op_spans)
        st = sc.statusTracker()
        stream_jobs = sorted({j for r in runs for j in st.getJobIdsForGroup(r)})
        jobs = sorted({j for s in op_spans for j in s.jobs} | set(stream_jobs))
        root = next(s for s in op_spans if s.name == "op")
        kids: dict[int, list] = {}
        for s in op_spans:
            kids.setdefault(s.parent, []).append(s)

        def self_ms(s) -> float:
            return s.ms - union_ms(clip([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end))

        def incl_jobs(s) -> set:
            out = set(s.jobs)
            for c in kids.get(s.sid, []):
                out |= incl_jobs(c)
            return out

        def named(name):
            return [s for s in op_spans if s.name == name]

        windows = spans.job_window(sc, jobs)
        jw = clip(windows, root.start, root.end)
        plan = named("driver.plan_build")
        action = named("driver.action")
        busy = [(s.start, s.end) for s in plan] + jw
        last_job_end = max((e for _, e in jw), default=root.start)
        tot = spans.stage_totals(sc, jobs)
        cores = sc.defaultParallelism
        out = {
            "attributed_ms": root.ms - self_ms(root),
            "root_ms": root.ms,
            "driver.plan_build_ms": sum(s.ms for s in plan),
            "driver.catalyst_ms": sum(s.ms for s in named("driver.catalyst")),
            "driver.gap_ms": root.ms - union_ms(busy),
            "driver.fetch_ms": sum(max(0.0, s.end - max(last_job_end, s.start)) for s in action),
            "spark.jobs_per_op": len(jobs),
            "spark.stages_per_op": tot["stages"],
            "spark.tasks_per_op": tot["tasks"],
            "spark.executor_run_ms": tot["executor_run_ms"],
            "spark.executor_cpu_ms": tot["executor_cpu_ms"],
            "spark.cpu_util": tot["executor_cpu_ms"] / max(root.ms * cores, 1e-9),
            "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
            "spark.spill_bytes": tot["spill_bytes"],
            "spark.input_bytes": tot["input_bytes"],
            "spark.gc_ms": tot["gc_ms"],
        }
        if op.cls == "dedup":
            out["llm_ops.minhash_ms"] = sum(self_ms(s) for s in named("llm_ops.minhash"))
            out["llm_ops.lsh_ms"] = sum(self_ms(s) for s in named("llm_ops.lsh"))
            out["llm_ops.cc_ms"] = sum(self_ms(s) for s in named("llm_ops.cc"))
            out["llm_ops.finalize_ms"] = sum(s.ms for s in action)
            out["llm_ops.cc_jobs"] = sum(len(incl_jobs(s)) for s in named("llm_ops.cc"))
        if op.cls == "pipeline":
            fits = named("pipeline.fit")
            out["pipeline.fit_ms"] = sum(s.ms for s in fits)
            out["pipeline.fit_jobs"] = sum(len(incl_jobs(s)) for s in fits)
            out["pipeline.transform_ms"] = sum(s.ms for s in named("pipeline.transform"))
        if op.cls == "ann":
            out["llm_ext.probe_plan_ms"] = sum(s.ms for s in plan)
            out["llm_ext.probe_exec_ms"] = sum(s.ms for s in named("driver.catalyst") + action)
        commits = named("session.commit")
        if commits:
            out["session.commit_ms"] = statistics.fmean(s.ms for s in commits)
            out["session.commit_meta_ms"] = statistics.fmean(
                s.ms - union_ms(clip(spans.job_window(sc, incl_jobs(s)), s.start, s.end))
                for s in commits
            )
        if op.batches:
            bw = [(b["start_ms"], b["start_ms"] + b["batch_ms"]) for b in op.batches]
            in_batch = [j for j, (s, _) in zip(jobs, windows) if any(a <= s <= b for a, b in bw)]
            out["streaming.batches"] = len(op.batches)
            out["streaming.jobs_per_batch"] = len(in_batch) / len(op.batches)
            active = max(b for _, b in bw) - min(a for a, _ in bw)
            out["streaming.stage_ms"] = root.ms - active
        return out

    # -- the run -----------------------------------------------------------
    def run(self, trace_on: bool, t0: float, oracle_hook=None, stop: bool = True,
            spans_path: str | None = None) -> dict:
        from dask_pipes_spark import operators  # noqa: F401 - registers the keys
        from dask_pipes_spark.session import get_session

        shutil.rmtree(self.data, ignore_errors=True)
        gen.generate(self.data, self.seed, self.sf, dedup=self.dedup)
        t = time.perf_counter()
        self.spark = get_session("perfbench")
        get_session_ms = (time.perf_counter() - t) * 1000.0
        self.spark.streams.addListener(self.listener)
        try:
            return self._measure(trace_on, t0, get_session_ms, oracle_hook, spans_path)
        finally:
            self.spark.streams.removeListener(self.listener)
            if stop:
                stop_spark(self.spark)

    def _measure(self, trace_on, t0, get_session_ms, oracle_hook, spans_path) -> dict:
        sc = self.spark.sparkContext
        floor = Floor(self.spark)
        phases = {"session_s": time.perf_counter() - t0}
        self.rec = Recorder(sc) if trace_on else None
        # set-up index builds are traced too: session.ensure_index_ms
        with Wrappers(self.rec, trace_targets()) if trace_on else nullcontext():
            for cls, key in dict.fromkeys(self.wl.menu):
                for _ in range(self.wl.warmup):
                    self.ops.append(self._call(cls, key, "warmup"))
        setup_s = time.perf_counter() - t0
        phases["warmup_s"] = setup_s - phases["session_s"]
        floor_before = floor.ms()
        ensure_ms = sum(
            s.ms for s in (self.rec.spans if trace_on else []) if s.name == "session.ensure_index"
        )
        t, cpu0 = time.perf_counter(), cpu_ticks()
        self._rounds(lambda c, k: self._call(c, k, "timed"))
        phases["timed_s"] = time.perf_counter() - t
        steal = steal_frac(cpu0, cpu_ticks())
        timed_wall = sum(o.ms for o in self.ops if o.phase == "timed")
        if trace_on:
            ids = iter(range(1, 1 << 30))
            with Wrappers(self.rec, trace_targets(), keep={"llm_ops.lsh": self.lsh_frames}):
                self._rounds(lambda c, k: self._call(c, k, "traced", next(ids)))
            # untraced again after the traced pass: ops still speed up from
            # pass to pass, so the overhead compares against both sides
            self._rounds(lambda c, k: self._call(c, k, "untraced"))
        floor_after = floor.ms()
        peak_mb = peak_rss_mb(sc)
        if spans_path and self.rec:
            self.rec.dump(spans_path)
        edges = [f.count() for f in self.lsh_frames]
        self.lsh_frames.clear()

        t = time.perf_counter()
        failures = self._check(oracle_hook)
        phases["check_s"] = time.perf_counter() - t
        timed = [o for o in self.ops if o.phase == "timed"]
        ok_ms = [o.ms for o in timed if o.error is None]
        if not ok_ms:
            raise RuntimeError(f"every timed op failed: {failures[:3]}")
        e2e = self._e2e(timed, ok_ms, timed_wall, setup_s)
        e2e["detail"].update(
            ops_failed_frac=len(failures) / len(self.ops), peak_rss_mb=peak_mb,
            steal_frac=steal, phases=phases,
            warmup_ms=[round(o.ms, 1) for o in self.ops if o.phase == "warmup"],
        )
        res = {
            "attempted": len(self.ops),
            "failed": len(failures),
            "failures": failures,
            "floor_before": floor_before,
            "floor_after": floor_after,
            "suspect_window": abs(floor_after / floor_before - 1.0) > FLOOR_BOUND,
            "e2e": e2e,
        }
        if trace_on:
            untraced = [o.ms for o in self.ops if o.phase in ("timed", "untraced") and o.error is None]
            res["layers"] = self._layers(untraced, get_session_ms, ensure_ms, edges,
                                         floor_before, floor_after)
            res["layers"]["env.steal_frac"] = steal
        return res

    def _check(self, oracle_hook) -> list[str]:
        """Compare every op's rows with the key's DuckDB oracle on the same dir."""
        from check_parity import compare, duck_connect
        from dask_pipes_spark.registry import ORACLES

        con = duck_connect(self.data)
        answers = {}
        failures = []
        for o in self.ops:
            if o.error is None and o.key not in answers:
                ans = con.execute(ORACLES[o.key]).fetchdf()
                answers[o.key] = oracle_hook(o.key, ans) if oracle_hook else ans
            problems = [o.error] if o.error else compare(o.rows, answers[o.key])
            if problems:
                failures.append(f"{o.phase} {o.key}: " + "; ".join(problems))
            o.rows = None
        con.close()
        return failures

    def _e2e(self, timed, ok_ms, timed_wall, setup_s) -> dict:
        """End-to-end figures of the timed ops. ``items_per_s`` is documents
        per second of the median chain on dedup_batch and completed requests
        per second on serve_mix; ``detail`` keeps the per-class figures."""
        p50 = statistics.median(ok_ms)
        detail = {"op_samples": len(ok_ms), "timed_ms": [round(o.ms, 1) for o in timed]}
        if self.wl.name == "dedup_batch":
            import pyarrow.parquet as pq

            n_docs = pq.ParquetFile(os.path.join(self.data, "documents.parquet")).metadata.num_rows
            items = n_docs / (p50 / 1000.0)
            detail["dedup_docs_per_s"] = items
        else:
            items = len(ok_ms) / (timed_wall / 1000.0)
            tv, tp, tn = tail(ok_ms)
            detail.update(serve_p50_ms=p50, serve_tail_ms=tv, serve_tail_pct=tp,
                          serve_samples=tn, serve_rps=items)
        for cls in sorted({o.cls for o in timed}):
            v = [o.ms for o in timed if o.cls == cls and o.error is None]
            detail[f"{cls}_p50_ms"] = statistics.median(v) if v else None
        batches = [b for o in timed for b in o.batches if b["rows"] > 0]
        if batches:
            bms = [b["batch_ms"] for b in batches]
            tv, tp, tn = tail(bms)
            detail.update(
                ivm_batch_p50_ms=statistics.median(bms), ivm_batch_tail_ms=tv,
                ivm_batch_tail_pct=tp, ivm_batch_samples=tn,
                ivm_rows_per_s=sum(b["rows"] for b in batches) / (sum(bms) / 1000.0),
                ivm_call_s=detail["ivm_p50_ms"] / 1000.0,
            )
        return {"setup_s": setup_s, "op_p50_ms": p50, "items_per_s": items, "detail": detail}

    def _layers(self, untraced_ms, get_session_ms, ensure_ms, edges, fb, fa) -> dict:
        traced = [o for o in self.ops if o.phase == "traced" and o.error is None]
        if not traced:
            raise RuntimeError("every traced op failed")

        def mean(key):
            return statistics.fmean(o.layers.get(key, 0.0) for o in traced)

        def mean_of(key):
            v = [o.layers[key] for o in traced if key in o.layers]
            return statistics.fmean(v) if v else 0.0

        out = {name: mean(name) for name in PER_OP_LAYERS}
        for name in PER_CLASS_LAYERS:
            out[name] = mean_of(name)
        durs = {k: [] for k in STREAM_DURATIONS}
        rows = []
        for o in traced:
            for b in o.batches:
                rows.append(b["rows"])
                for k, src in STREAM_DURATIONS.items():
                    durs[k].append(b["durations"].get(src, 0.0))
        for k, v in durs.items():
            out[k] = statistics.fmean(v) if v else 0.0
        out["streaming.rows_per_batch"] = statistics.fmean(rows) if rows else 0.0
        out["llm_ops.edges"] = statistics.fmean(edges) if edges else 0.0
        out["session.get_session_ms"] = get_session_ms
        out["session.ensure_index_ms"] = ensure_ms
        out["env.spark_floor_ms_before"] = fb
        out["env.spark_floor_ms_after"] = fa
        out["env.suspect_window"] = float(abs(fa / fb - 1.0) > FLOOR_BOUND)
        traced_med = statistics.median(o.ms for o in traced)
        out["env.trace_overhead_frac"] = traced_med / statistics.median(untraced_ms) - 1.0
        out["env.attributed_frac"] = (
            sum(o.layers["attributed_ms"] for o in traced) / sum(o.layers["root_ms"] for o in traced)
        )
        return out


#: Per-layer metrics averaged over every traced op of the workload.
PER_OP_LAYERS = (
    "driver.plan_build_ms", "driver.catalyst_ms", "driver.gap_ms", "driver.fetch_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.cpu_util",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.gc_ms",
)
#: Per-layer metrics averaged over the traced ops that exercise the layer
#: (0 on a workload whose ops never reach it).
PER_CLASS_LAYERS = (
    "llm_ops.minhash_ms", "llm_ops.lsh_ms", "llm_ops.cc_ms", "llm_ops.finalize_ms",
    "llm_ops.cc_jobs", "pipeline.fit_ms", "pipeline.fit_jobs", "pipeline.transform_ms",
    "llm_ext.probe_plan_ms", "llm_ext.probe_exec_ms", "session.commit_ms",
    "session.commit_meta_ms", "session.manifest_bytes", "session.gen_bytes",
    "session.gen_files",
    "streaming.batches", "streaming.jobs_per_batch", "streaming.stage_ms",
)
#: streaming.* metric -> StreamingQueryProgress.durationMs key, per batch.
STREAM_DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
}


def _no_span(name: str):
    return nullcontext()


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a timing window with a high share is contended."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(sum(d[:8]), 1)


def peak_rss_mb(sc) -> float:
    """High-water RSS of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(sc._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway and its JVM, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
