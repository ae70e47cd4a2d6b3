#!/usr/bin/env python3
"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py

At tiny sizes and with a one-second window (the fewest passes a run
makes: one untraced, three traced):
  - a traced run of each workload must pass its output checks and print
    every end-to-end, workload and per-layer metric with its unit, write
    its result document and span file, and end with the JSON line;
  - an untraced run with a planted wrong expected result must report the
    op as failed, print `correct: false` and exit non-zero.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

COMMON = ["setup_s", "kind_geomean_ms", "op_geomean_ms", "op_p50_ms", "op_p90_ms", "ops_per_s",
          "retained_heap_mb", "error_rate"]
WORKLOAD = {
    "interactive_sql": ["queries_per_s", "query_p50_ms", "query_p90_ms"],
    "bulk_federation": ["ingest_rows_per_s", "upsert_rows_per_s",
                        "scan_rows_per_s", "pushdown_p50_ms"],
}
LAYER = [
    "spark.plan_ms", "spark.driver_ms", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_overhead_ms", "spark.task_ms",
    "spark.task_cpu_ms", "spark.stage_max_task_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_ms",
    "sources.wire_rows", "sources.pushdown_ratio", "sources.scan_ms",
    "sources.remote_ms", "sources.decode_ms", "sources.schema_infer_ms",
    "sources.conn_opened", "sources.write_rows", "sources.write_task_ms",
    "sources.write_commit_ms", "sources.write_remote_ms",
    "functions.minhash_sig_rows_per_s", "functions.simhash_poly_rows_per_s",
    "functions.gram_fps_rows_per_s", "functions.shingle_set_rows_per_s",
    "plans.rewrite_hits", "jvm.gc_ms", "jvm.heap_after_gc_mb",
    "trace.overhead_pct"]


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--seconds", "1", "--scale", "0.1", *args],
                       capture_output=True, text=True)
    out = p.stdout.strip().splitlines()
    assert out, f"no output; stderr:\n{p.stderr[-3000:]}"
    lines = {}
    for ln in out[:-1]:
        name, value, unit = ln.split(" ")
        lines[name] = (float(value), unit)
    return p.returncode, lines, json.loads(out[-1]), p.stderr


def main():
    for w, extra in WORKLOAD.items():
        rc, lines, last, err = bench("--workload", w, "--seed", "7",
                                     "--trace", "1")
        assert rc == 0 and last["correct"], f"{w}: rc {rc}\n{err[-3000:]}"
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert last["attempted"] >= 1 and last["failed"] == 0
        for k in COMMON + extra + LAYER:
            assert k in lines and lines[k][1], f"{w}: {k} not printed"
        for k in LAYER:
            m = last["metrics"][k]
            assert m["unit"] == run.layer_unit(k), f"{w}: {k} unit"
        assert "operators.obs.p85_containment_screen.cands_after_screen" \
            in lines or w != "interactive_sql", f"{w}: p85 observations"
        stem = os.path.join(HERE, "results", f"{w}-seed7-trace1")
        json.load(open(stem + ".json"))
        assert json.load(open(stem + ".spans.json")), f"{w}: no spans"
        print(f"selftest: {w} traced run prints every metric")
    rc, lines, last, _ = bench("--workload", "bulk_federation", "--seed", "7",
                               "--trace", "0", "--plant", "q_topn")
    assert rc != 0 and not last["correct"] and last["failed"] >= 1, \
        "planted wrong result not reported"
    assert set(last["metrics"]) == set(run.E2E_UNITS)
    for k, u in run.E2E_UNITS.items():
        assert last["metrics"][k]["unit"] == u
    print("selftest: a planted wrong result is reported as a failure")
    print("selftest: ok")


if __name__ == "__main__":
    main()
