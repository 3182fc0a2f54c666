#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size.

    python3 perfbench/test_smoke.py

For every workload, untraced and traced: the run exits 0, its last line has
exactly the result keys, every metric BENCHMARK.json names is there with
its unit, the outputs check correct, and a traced run writes spans and
reports every per-layer metric of its workload. Then the two injected
faults must make `failed` non-zero. Takes a few minutes (one JVM per run).
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

STAGES = ("candidates", "fetch", "pages", "orient", "group_doc", "writeback")
QUERIES = ("q52_mets_full", "q122_dedup_funnel", "q175_neardup_fusion", "q125_ivfpq_adc",
           "q83_curation_report", "q112_bpe_encode", "q160_nlaf_langid",
           "q57_transitive_keepers", "q53_hll_distinct", "q154_audio_fp_neardup",
           "q130_stream_bottomk")
COMMON_LAYERS = (
    ["driver." + m for m in ("plan_s", "gap_s", "jobs", "stages", "tasks", "exchanges")]
    + ["operators." + m for m in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                                  "peak_exec_mem_mb")]
    + ["sources.scan.rows_read", "sources.scan.bytes_read", "jvm.gc_s", "jvm.jit_s",
       "trace.overhead_ratio"])
HARVEST_LAYERS = (
    [f"plans.stage.{s}.{m}" for s in STAGES for m in ("s", "task_s", "rows_out")]
    + ["plans.stages_run", "plans.stages_skipped", "plans.checkpoint_mb",
       "sources.HttpOps.fetch_calls", "sources.HttpOps.fetch_busy_s"]
    + ["operators.OrientOps." + m for m in ("ocr_calls", "ocr_busy_s", "spell_calls",
                                            "spell_busy_s", "ocr_per_page")])
LAYERS = {
    "harvest_full": COMMON_LAYERS + HARVEST_LAYERS,
    "harvest_delta": COMMON_LAYERS + HARVEST_LAYERS + ["plans.skip_s",
                                                       "sources.delta.selectivity"],
    "query_mix": COMMON_LAYERS + [f"queries.{q}.{m}" for q in QUERIES
                                  for m in ("s", "task_s", "shuffle_mb", "jobs")],
}


def run(workload, trace, *extra):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    record = json.loads(next(l for l in lines if l.startswith("record: "))[len("record: "):])
    return json.loads(lines[-1]), record


def check_run(workload, trace):
    result, record = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True and result["failed"] == 0, record["checks"]
    assert result["attempted"] >= 1
    section = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in section}, result["metrics"]
    for m in section:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)
    for m in SPEC["end_to_end"]:
        assert record["end_to_end"][m["name"]] > 0, (workload, m["name"])
    if trace:
        missing = [k for k in LAYERS[workload] if k not in record["per_layer"]]
        assert not missing, (workload, missing)
        for m in SPEC["per_layer"]:
            assert result["metrics"][m["name"]]["value"] > 0, (workload, m["name"])
        attributed = [k for k in LAYERS[workload] if k.endswith("task_s") and k != "task_s"]
        assert all(record["per_layer"][k] > 0 for k in attributed), (workload, attributed)
        spans = ROOT / record["spans"]["file"]
        names = [json.loads(l)["name"] for l in spans.read_text().splitlines()]
        assert record["spans"]["count"] == len(names) > 0
        assert any(n.startswith("spark.job.") for n in names)
        assert any(n.startswith("iteration.") for n in names)
    print(f"ok  {workload} trace={trace}", flush=True)


def check_fault(workload, fault):
    result, record = run(workload, 0, "--fault", fault)
    assert result["failed"] > 0 and result["correct"] is False, (workload, fault, result)
    print(f"ok  {workload} --fault {fault} -> failed {result['failed']}/{result['attempted']}",
          flush=True)


def main():
    for w in ("harvest_full", "harvest_delta", "query_mix"):
        for trace in (0, 1):
            check_run(w, trace)
    check_fault("harvest_full", "fetcher")
    check_fault("harvest_delta", "drop_row")
    check_fault("query_mix", "drop_row")
    print("smoke: all passed")


if __name__ == "__main__":
    main()
