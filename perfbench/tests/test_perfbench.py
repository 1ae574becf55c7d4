"""The benchmark's own tests, at a tiny input size.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The short runs start Spark once per workload (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import timedelta

import pytest

from perfbench import inputs, tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def _bytes(tmp_path, seed: int, name: str) -> bytes:
    spec = inputs.TickSpec(instruments=5, hours=48, ticks_per_instrument_hour=3.0)
    path = str(tmp_path / f"{name}.parquet")
    inputs.write_ticks(inputs.history_ticks(seed, spec, inputs.start_time(seed)), path)
    with open(path, "rb") as fh:
        return fh.read()


def test_generator_same_seed_same_bytes(tmp_path):
    assert _bytes(tmp_path, 7, "a") == _bytes(tmp_path, 7, "b")
    assert _bytes(tmp_path, 7, "a") != _bytes(tmp_path, 8, "c")


def test_late_batches_are_seeded_and_late():
    spec = inputs.TickSpec(instruments=4, hours=24, ticks_per_instrument_hour=2.0)
    start = inputs.start_time(3)
    args = (spec, 5, start, 50, timedelta(minutes=10), 10, (3, 30), 1000)
    a, b, c = inputs.late_batch(3, *args), inputs.late_batch(3, *args), inputs.late_batch(4, *args)
    assert all((a[k] == b[k]).all() for k in a)
    assert not (a["ts"] == c["ts"]).all()
    batch_lo = inputs.to_us(start + 5 * timedelta(minutes=10))
    late = a["ts"][a["ts"] < batch_lo]
    assert len(late) == 10
    assert (late <= batch_lo - 3 * inputs.HOUR_US).all()
    assert list(a["event_id"]) == list(range(1250, 1300))


def _span(name, sid, parent, start, end):
    return tracing.Span(name=name, span_id=sid, parent_id=parent, trace_id="t", start=start, end=end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("jobs.a", 0, None, 0.0, 10.0),
        _span("sinks.b", 1, 0, 1.0, 4.0),
        _span("operators.c", 2, 0, 3.0, 6.0),   # overlaps b: union with b is [1, 6]
        _span("trace.io", 3, 0, 8.0, 9.0),      # tracer work still counts as covered
        _span("sources.d", 4, 1, 2.0, 3.0),
        _span("sources.e", 5, 2, 5.0, 7.0),     # sticks out of its parent: clipped
    ]
    selfs = tracing.self_times(spans)
    assert selfs == {0: 4.0, 1: 2.0, 2: 2.0, 3: 1.0, 4: 1.0, 5: 2.0}
    summary = tracing.summarize(spans, ["jobs.a", "sinks.b", "plans.never"])
    assert summary["jobs.a"]["self_s"] == 4.0 and summary["jobs.a"]["total_s"] == 10.0
    assert summary["plans.never"]["calls"] == 0
    assert "trace.io" not in summary


def test_bindings_rebind_and_restore():
    from options_data_pipeline_spark.jobs import aggregation, incremental
    from options_data_pipeline_spark.sinks import upsert

    original = upsert.merge_upsert
    tracer = tracing.Tracer()
    bindings = tracing.Bindings(tracer, {"sinks.merge_upsert": (upsert, "merge_upsert", True)})
    with bindings.active():
        assert aggregation.merge_upsert is incremental.merge_upsert is upsert.merge_upsert
        assert upsert.merge_upsert is not original
    assert aggregation.merge_upsert is original and upsert.merge_upsert is original


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize(
    "workload,trace",
    [("incremental", 1), ("analytics", 0), ("backfill", 0)],
)
def test_short_run_passes_the_output_check(workload, trace):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in _benchmark()[key]}
    if trace:
        assert result["metrics"]["sinks.merge_upsert.calls"]["value"] > 0
        assert result["metrics"]["streaming.candles_rebuild_frame.spark_jobs"]["value"] > 0


def test_refuses_a_directory_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".traces", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", "analytics", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
