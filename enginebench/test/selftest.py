"""Tiny-size self-test of the benchmark.

    python3 enginebench/test/selftest.py

For every workload, runs the benchmark at `--size tiny` with tracing off
and on, and asserts that:
  - the last line of standard output is the result object with exactly the
    keys correct / attempted / failed / metrics, and the run is correct;
  - every metric BENCHMARK.json names prints, with the unit it declares
    (end-to-end metrics with --trace 0, per-layer metrics with --trace 1);
  - every correctness check of the workload ran at least once;
  - a traced run writes its spans.
It also runs the benchmark in a directory holding only BENCHMARK.json and
the benchmark's own files, where it must fail without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

CHECKS = {
    "bulk_replay": [
        "epoch_committed", "epoch.extracted_equals_new_events",
        "epoch.counters_reconcile", "feed_equals_snapshot_diff",
        "lookup_equals_snapshot_read", "oracle_key_derivation",
        "final_table_equals_lww_fold"],
    "trickle_merge": [
        "epoch_committed", "epoch.extracted_equals_new_events",
        "epoch.counters_reconcile", "redelivered_slice_changes_nothing",
        "feed_equals_snapshot_diff", "mirror_synced",
        "mirror_equals_upstream", "lookup_equals_snapshot_read",
        "oracle_key_derivation", "final_table_equals_lww_fold"],
}


def run(cwd, workload, trace, seed=7):
    cmd = [sys.executable, os.path.join(cwd, "enginebench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "2",
           "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=400)


def check_run(spec, workload, trace):
    r = run(ROOT, workload, trace)
    assert r.returncode == 0, f"{workload} trace={trace}: exit " \
        f"{r.returncode}\n{r.stderr[-3000:]}"
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True and result["failed"] == 0, lines
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics {got} != {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    checks = json.loads(lines[-2])["checks"]
    for c in CHECKS[workload]:
        assert checks.get(c, {}).get("ran", 0) >= 1, \
            f"{workload}: check {c} did not run ({checks})"
    if trace:
        spans = os.path.join(ROOT, ".bench_build", "traces",
                             f"{workload}-seed7.json")
        with open(spans) as f:
            names = {s["name"] for s in json.load(f)["spans"]}
        assert any(n.startswith("job ") for n in names), names
        assert any(n.startswith("stage ") for n in names), names
    print(f"ok {workload} trace={trace} attempted={result['attempted']}")


def check_bare_directory():
    """Only BENCHMARK.json and the benchmark's files: must fail cleanly."""
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "enginebench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = run(bare, "bulk_replay", 0)
        assert r.returncode != 0, "bare directory run exited 0"
        assert '"metrics"' not in r.stdout, r.stdout
        print("ok bare directory fails without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(CHECKS)
    check_bare_directory()
    for workload in CHECKS:
        for trace in (0, 1):
            check_run(spec, workload, trace)
    print("selftest passed")


if __name__ == "__main__":
    main()
