"""Self-test of the benchmark at sf0.001: every workload end to end with the
output checks on, a corrupted oracle answer, the traced run's span file,
and the generator's determinism.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), BENCH]

# the engine caches its scratch root on first use: point it at a
# directory of this test session before anything asks for it
_SCRATCH = tempfile.mkdtemp(prefix="perfbench_test_")
atexit.register(shutil.rmtree, _SCRATCH, True)
os.environ.setdefault("SPARK_GRAFT_SCRATCH_ROOT", os.path.join(_SCRATCH, "scratch"))

import pytest  # noqa: E402

import gen  # noqa: E402
from workloads import WORKLOADS, Harness  # noqa: E402


def _run(name: str, tmp_path, trace_on: bool = False, **kw) -> dict:
    h = Harness(WORKLOADS[name], seed=7, seconds=0, work=str(tmp_path), small=True)
    return h.run(trace_on, time.perf_counter(), stop=False, **kw)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_end_to_end(name, tmp_path):
    res = _run(name, tmp_path)
    assert res["failed"] == 0, res["failures"]
    # the warm-up calls of each key plus one timed round
    wl = WORKLOADS[name]
    assert res["attempted"] == wl.warmup * len(set(wl.menu)) + len(wl.menu)
    for metric in ("setup_s", "op_p50_ms", "items_per_s"):
        assert res["e2e"][metric] > 0


def test_corrupted_oracle_counts_as_failed_op(tmp_path):
    def drop_a_row(key, answer):
        return answer.iloc[1:] if key == "f2_topk" else answer

    res = _run("serve_mix", tmp_path, oracle_hook=drop_a_row)
    assert res["failed"] == 2  # the warm-up call and the timed call
    assert all("f2_topk" in f and "row count" in f for f in res["failures"])
    assert res["attempted"] == 2 * len(WORKLOADS["serve_mix"].menu)


def test_traced_run_writes_spans(tmp_path):
    spans = tmp_path / "spans.jsonl"
    res = _run("dedup_batch", tmp_path, trace_on=True, spans_path=str(spans))
    assert res["failed"] == 0, res["failures"]
    rows = [json.loads(line) for line in spans.read_text().splitlines()]
    names = {r["name"] for r in rows}
    assert {"op", "driver.plan_build", "driver.action", "llm_ops.cc"} <= names
    roots = [r for r in rows if r["name"] == "op"]
    assert roots and all(r["parent"] is None for r in roots)
    layers = res["layers"]
    assert "env.trace_overhead_frac" in layers
    assert layers["env.attributed_frac"] >= 0.9
    assert layers["llm_ops.cc_jobs"] > 0 and layers["llm_ops.edges"] > 0


def _digest(d: str) -> dict:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_generator_is_deterministic(tmp_path):
    params = dict(n_base=300, clusters=30, variants=3, viral=12)
    for sub in ("a", "b"):
        gen.generate(str(tmp_path / sub), 5, 0.001, dedup=params)
    gen.generate(str(tmp_path / "c"), 6, 0.001, dedup=params)
    a, b, c = (_digest(str(tmp_path / s)) for s in "abc")
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]
    assert len(a) == len(gen.TABLES)
