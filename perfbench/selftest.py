"""Self-test of the benchmark itself (not of the engine's speed).

    python3 perfbench/selftest.py

Runs every workload at tiny size and asserts that the record prints every
end-to-end metric with its unit, that the last line is the result object
with exactly the metrics BENCHMARK.json declares, that a traced run prints
every per-layer metric, and that a deliberately wrong expected state is
counted as a failure in `failed_ratio`. Takes a few minutes: each run
starts its own Spark session.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

RECORD_UNITS = {
    "events_per_s": "events/s", "apply_p50_s": "s", "apply_tail_s": "s",
    "lookup_p50_s": "s", "lookup_tail_s": "s", "range_read_p50_s": "s",
    "changelog_p50_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
    "table_mb": "MB", "failed_ratio": "ratio",
}


def run(workload: str, trace: int = 0, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def check_result(final: dict, declared: dict[str, str]) -> None:
    assert set(final) == {"correct", "attempted", "failed", "metrics"}, final.keys()
    assert isinstance(final["attempted"], int) and final["attempted"] >= 1
    assert isinstance(final["failed"], int)
    assert set(final["metrics"]) == set(declared), set(final["metrics"]) ^ set(declared)
    for name, unit in declared.items():
        m = final["metrics"][name]
        assert m["unit"] == unit, (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS

    for name in WORKLOADS:
        record, final = run(name)
        check_result(final, e2e)
        assert final["correct"] and final["failed"] == 0, (name, record)
        for metric, unit in RECORD_UNITS.items():
            got = record["metrics"][metric]
            assert got["unit"] == unit and isinstance(got["value"], (int, float)), (metric, got)
        assert record["metrics"]["failed_ratio"]["value"] == 0.0
        print(f"ok  {name}: every metric printed with its unit, final state matches")

    record, final = run("cow_ddl", 1)
    check_result(final, layers)
    assert final["correct"], record
    print("ok  cow_ddl traced: every per-layer metric printed with its unit")

    record, final = run("bulk_catchup", 0, "--tamper-expected")
    check_result(final, e2e)
    assert not final["correct"] and final["failed"] == 1, final
    assert record["metrics"]["failed_ratio"]["value"] == 1 / final["attempted"], record
    print("ok  a wrong expected state counts as one failure in failed_ratio")
    return 0


if __name__ == "__main__":
    sys.exit(main())
