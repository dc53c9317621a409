"""Smoke test of the benchmark at tiny input sizes (a few minutes: one
Spark process per case).

    python -m pytest perfbench/test_smoke.py -q

Checks that every metric ``BENCHMARK.json`` names is emitted with its
unit, that the outputs check clean at HEAD, and that a planted wrong
output fails its check and is counted in ``failed`` and ``error_rate``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """Runs the benchmark; returns (full record, last-line result)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_metric_with_its_unit(workload):
    record, result = bench(workload, 1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == \
        {k: v["unit"] for k, v in result["metrics"].items()}
    # the traced run also makes the untraced loop, so it carries the end-to-end metrics
    assert {m["name"] for m in SPEC["end_to_end"]} == set(record["end_to_end"])
    assert all(v > 0 for v in record["end_to_end"].values())
    assert record["workload_metrics"]["error_rate"]["value"] == 0
    layer = result["metrics"]
    assert layer["spark.jobs"]["value"] > 0 and layer["trace.overhead_ratio"]["value"] > 0
    assert layer["upsert.files_written"]["value"] >= 1 and layer["upsert.bytes_written"]["value"] > 0
    if workload == "daily_backfill":
        days = record["inputs"]["window_days"]
        assert days > 1
        assert 6 * days <= layer["sources.plan_leaves"]["value"] <= 6 * days + 4
        assert layer["sources.envelopes"]["value"] == 6 * days
        # the merge rewrites the whole pre-seeded store for a window of new rows
        assert layer["upsert.rows_new"]["value"] == days
        assert layer["upsert.rows_rewritten"]["value"] == record["inputs"]["sink_rows"]
        assert layer["upsert.rewrite_amp"]["value"] > 1
        assert all(v["value"] > 0 for k, v in layer.items() if k.startswith("corpus."))
        assert 0 < layer["streaming.drain_s"]["value"] < layer["corpus.build_s"]["value"]
    if workload == "rag_ingest":
        # into an empty store the merge writes exactly the new rows
        assert layer["upsert.rows_new"]["value"] == layer["upsert.rows_rewritten"]["value"] > 0
        assert layer["upsert.rewrite_amp"]["value"] == 1
        assert layer["dedup.lsh_candidates"]["value"] >= layer["dedup.lsh_kept"]["value"] > 0
        assert layer["serve.exec_s"]["value"] > 0 and layer["similarity.pairs_scored"]["value"] > 0


def test_untraced_run_prints_end_to_end_metrics():
    _record, result = bench(SPEC["workloads"][0]["name"], 0)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == \
        {k: v["unit"] for k, v in result["metrics"].items()}
    assert result["correct"]


@pytest.mark.parametrize("workload", ["daily_backfill", "rag_ingest"])
def test_planted_wrong_output_counts_as_failure(workload):
    record, result = bench(workload, 0, "--plant")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert record["workload_metrics"]["error_rate"]["value"] > 0
    assert record["errors"][0]["op"] == 0
