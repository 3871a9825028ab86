"""Self-test of the benchmark at tiny size (a 20k-row table, a few commits).

    python3 perfbench/selftest.py

Runs each workload untraced and traced, and checks that:
- every end-to-end and per-layer metric of BENCHMARK.json is emitted,
  with its unit, and no other;
- every traced span fired, across the two workloads;
- counts (jobs, tasks, files, bytes) repeat exactly for one seed;
- a corrupted expectation makes the correctness gate fail the run.
Exits 0 when all hold.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED, SECONDS = 7, 10

EXPECTED_SPANS = {
    "api.upsert", "api.upsert_partial", "api.delete", "api.merge", "api.compact",
    "ledger.begin", "ledger.finish",
    "concurrency.lock_acquire", "concurrency.lock_release",
    "write.upsert", "write.upsert_partial", "write.delete_keys", "write.merge_into",
    "write.write_partitioned", "partition_paths.distinct_partition_tuples",
    "table.read", "table.read_base", "table.compact",
    "index.point_lookup", "index.refresh_indexes", "index.build_record_index",
    "engine.bootstrap", "validate.reconcile", "io.read_source",
}
# counts that must not change between two runs of one seed
REPEATING = [
    "ledger.files", "write.jobs_per_commit", "write.tasks_per_commit",
    "write.shuffle_write_bytes_per_commit", "write.files_written_per_commit",
    "write.rows_rewritten_per_row_ingested", "table.read_input_bytes",
    "table.read_shuffle_bytes", "table.log_files", "table.compact_bytes_rewritten",
    "table.compact_jobs", "index.files_read_per_lookup",
    "index.rows_scanned_per_row_returned",
]


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", str(SECONDS), "--trace", str(trace), "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def check_result(res: dict, spec: list[dict], label: str) -> None:
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (label, res)
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, (label, set(got) ^ set(want))
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (label, k)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    fired: set[str] = set()
    for workload in ("cow_ingest", "mor_serve"):
        rc, res = run(workload, 0)
        assert rc == 0, (workload, rc, res)
        check_result(res, spec["end_to_end"], workload)
        assert all(v["value"] > 0 for v in res["metrics"].values()), res
        traced = []
        for _ in range(2 if workload == "cow_ingest" else 1):
            rc, res = run(workload, 1)
            assert rc == 0, (workload, "traced", rc, res)
            check_result(res, spec["per_layer"], f"{workload} traced")
            traced.append(res["metrics"])
        with open(os.path.join(ROOT, ".bench_out", f"spans-{workload}-{SEED}.json")) as fh:
            fired |= {s["name"] for s in json.load(fh)}
        if len(traced) == 2:
            moved = {k: (traced[0][k]["value"], traced[1][k]["value"])
                     for k in REPEATING if traced[0][k]["value"] != traced[1][k]["value"]}
            assert not moved, ("counts differ between runs of one seed", moved)
        print(f"{workload}: metrics and counts ok", flush=True)
    missing = EXPECTED_SPANS - fired
    assert not missing, ("spans never fired", missing)
    rc, res = run("cow_ingest", 0, "--corrupt-expectation")
    assert rc != 0 and res is not None and not res["correct"], (rc, res)
    print("spans fired; corrupted expectation fails the gate; self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
