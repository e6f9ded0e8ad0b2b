"""Tests of the benchmark itself: the names BENCHMARK.json promises, the
ledger schema, the seeded inputs, and a tiny-size smoke run of every
workload.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# ------------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_keys_and_command():
    assert set(SPEC) == {
        "command",
        "paths",
        "run_seconds",
        "workloads",
        "end_to_end",
        "per_layer",
    }
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]


def test_benchmark_json_names_match_the_command():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(
        run.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == (
        spans.per_layer_schema()
    )
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_per_layer_names_cover_every_boundary():
    names = {n for n, _, _ in spans.per_layer_schema()}
    for b in spans.BOUNDARIES:
        for m, _, _ in spans.LAYER_METRICS:
            assert f"{b}.{m}" in names
    extras = {"search.candidates_per_query", "ingest.rows_per_s", "trace.overhead_frac"}
    assert extras <= names
    assert len(names) <= 128


# ------------------------------------------------------------------- ledger


class _StubContext:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass


class _StubSpark:
    sparkContext = _StubContext()


def _finished(tracer, name, phase, start, end, intervals=(), **counters):
    with tracer.span(name, phase, row="r1") as sp:
        pass
    sp.start, sp.end = start, end
    sp.intervals = list(intervals)
    sp.counters = {"jobs": float(len(intervals))} | counters
    return sp


def test_ledger_schema_and_call_window():
    tr = spans.Tracer(_StubSpark(), enabled=True, tag="t")
    # a call whose job runs on after the call span closes, inside exec
    _finished(tr, "ingest.batch", "call", 0.0, 1.0, [(0.5, 3.0)], tasks=4.0)
    _finished(tr, "ingest.batch", "exec", 1.0, 4.0, [], tasks=0.0)
    m = tr.boundary_metrics()
    assert set(m) == {
        f"{b}.{x}" for b in spans.BOUNDARIES for x, _, _ in spans.LAYER_METRICS
    }
    assert m["ingest.batch.call_s"] == pytest.approx(1.0)
    assert m["ingest.batch.exec_s"] == pytest.approx(3.0)
    assert m["ingest.batch.jobs"] == 1.0
    assert m["ingest.batch.tasks"] == 4.0
    # window [0, 4], one job busy over [0.5, 3.0]
    assert m["ingest.batch.driver_gap_s"] == pytest.approx(1.5)
    assert m["search.query.call_s"] == 0.0
    (row,) = tr.row_ledger()
    assert {"row", "boundary", "call_s", "exec_s", "jobs", "tasks", "exec_cpu_s",
            "gc_s", "shuffle_write_bytes", "spill_bytes", "driver_gap_s"} <= set(row)


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(_StubSpark(), enabled=False, tag="t")
    with tr.span("search.query") as sp:
        assert sp is None
    assert tr.spans == [] and tr.bookkeeping_s == 0.0


def test_loop_runs_warmup_steps_untimed_then_whole_cycles():
    import workloads

    tracer = spans.Tracer(_StubSpark(), enabled=False, tag="t")
    ctx = workloads.Ctx(
        spark=None, tracer=tracer, work="", seed=0, seconds=5.0, sizes=workloads.TINY
    )
    calls = []

    def step(i):
        calls.append(i)
        return 2.0

    ctx.loop(step, cycle=2, warmup=1)
    assert calls == [0, 1, 2, 3, 4]
    assert ctx.op_walls == [2.0] * 4 and ctx.cycle_walls == [4.0, 4.0]
    assert ctx.attempted == 5 and ctx.failed == 0


def test_union_length():
    assert spans._union_length([(0, 1), (0.5, 2), (3, 4), (5, 4)]) == 3.0


# ------------------------------------------------------------------- inputs


def test_mixture_is_seeded():
    a = gen.mixture(7, 500).draw(100)
    b = gen.mixture(7, 500).draw(100)
    c = gen.mixture(8, 500).draw(100)
    assert np.array_equal(a, b) and not np.array_equal(a, c)
    assert a.shape == (100, gen.DIM) and a.dtype == np.float32


def test_duplicates_are_exact_copies_after_the_originals():
    mix = gen.mixture(1, 200)
    x = mix.draw(200)
    grown, src = gen.with_duplicates(x, 0.1, mix.rng)
    assert len(grown) == 220 and np.array_equal(grown[200:], x[src])


def test_analytics_tables_are_seeded_with_fixture_schema():
    a, b = gen.analytics_tables(3, 0.1), gen.analytics_tables(3, 0.1)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert (a["documents"]["n_chars"] == a["documents"]["text"].str.len()).all()


# ------------------------------------------------------------ headline rows


def test_headline_sweep_crosses_every_module_once_in_headline_order():
    import bench
    import workloads

    sweep = workloads.headline_sweep()
    mods = [workloads.module_of(n) for n in sweep]
    assert len(mods) == len(set(mods))
    assert set(mods) == {workloads.module_of(n) for n in bench.HEADLINE}
    assert sweep == sorted(sweep, key=bench.HEADLINE.index)


def test_warmups_are_read_from_bench():
    import workloads

    names = workloads.bench_warmups()
    src = open(os.path.join(ROOT, "bench.py")).read()
    assert names and all(f'QUERIES["{n}"]' in src for n in names)
    assert src.index(f'QUERIES["{names[0]}"]') < src.index("timings")


# ---------------------------------------------------------------- smoke runs


def _run(workload: str, trace: int) -> "tuple[dict, dict]":
    out = subprocess.run(
        [
            sys.executable, os.path.join(BENCH_DIR, "run.py"),
            "--workload", workload, "--seed", "5", "--seconds", "1",
            "--trace", str(trace), "--size", "tiny",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_smoke_untraced(workload):
    head, res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert [(k, v["unit"]) for k, v in res["metrics"].items()] == list(run.END_TO_END)
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert list(head["report"]) == [n for n, _ in run.REPORT_METRICS]


def test_smoke_traced_lifecycle_writes_the_ledger():
    head, res = _run("index_lifecycle", 1)
    assert res["correct"]
    assert [(k, v["unit"]) for k, v in res["metrics"].items()] == [
        (n, u) for n, u, _ in spans.per_layer_schema()
    ]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for b in ("index.build", "index.save", "index.load", "search.query",
              "knn.exact", "ingest.batch"):
        assert m[f"{b}.call_s"] > 0 and m[f"{b}.jobs"] > 0, b
    assert m["index.delete.call_s"] > 0  # lazy: its anti-join runs in the search
    assert m["search.allpairs.call_s"] > 0 and m["search.allpairs.jobs"] > 0
    assert m["search.candidates_per_query"] > 0 and m["ingest.rows_per_s"] > 0
    ledger_path = os.path.join(ROOT, ".perfbench", "ledger", "index_lifecycle-seed5.json")
    with open(ledger_path) as fh:
        ledger = json.load(fh)
    assert {"boundaries", "rows", "spans", "report", "result"} <= set(ledger)
    assert {"id", "name", "phase", "parent", "start", "end", "job_ids"} <= set(
        ledger["spans"][0]
    )

