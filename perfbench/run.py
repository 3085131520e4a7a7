"""CDC ingest benchmark for tapdata_connectors_spark.

    python3 perfbench/run.py --workload bulk_catchup --seed 1 --seconds 15 --trace 0

Runs one workload (see workloads.py) against the engine's public API in a
single `local[n]` Spark session (n <= 4 cores, one client thread, closed
loop) and checks the final table against the sequential reference
replayer (check.py). `--seconds` sizes the measured work to about that
many seconds on a 4-core host; the work is the same whatever the speed.

Output: a `{"record": ...}` line with every metric (timings as median and
tail with the tail's percentile and sample count, failed_ratio, the check),
then, as the last line, the JSON result: `--trace 0` reports the
end-to-end metrics named in BENCHMARK.json, `--trace 1` the per-layer
metrics. A traced run first repeats the untraced pass so that it can
report its own overhead, then runs a traced pass and the isolated probes,
and writes its spans to `.perfbench_traces/`.

Set-up time (`setup_s`) is session start, staging of the workload's
events, and the unmeasured warm-up at the head of the pass, where the
apply path first runs (JIT, codegen and Python workers start there).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

import harness
from harness import ROOT, WORK_ROOT

TRACE_DIR = ROOT / ".perfbench_traces"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs (self-test only; figures are meaningless)")
    p.add_argument("--tamper-expected", action="store_true",
                   help="corrupt the expected state (self-test of the check)")
    return p.parse_args(argv)


def declared_metrics(kind: str) -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def end_to_end(res, setup_s: float, rss_mb: float, failed: int, attempted: int) -> dict:
    a = harness.timing_record(res.apply_s)
    lk = harness.timing_record(res.lookup_s)
    return {
        "events_per_s": (res.events / res.ingest_s, "events/s"),
        "apply_p50_s": (a["p50"], "s"),
        "apply_tail_s": (a["tail"], "s"),
        "lookup_p50_s": (lk["p50"], "s"),
        "lookup_tail_s": (lk["tail"], "s"),
        "range_read_p50_s": (statistics.median(res.range_s), "s"),
        "changelog_p50_s": (statistics.median(res.changelog_s), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "table_mb": (statistics.median(res.table_mb), "MB"),
        "failed_ratio": (failed / attempted, "ratio"),
    }


def run(args) -> tuple[dict, dict]:
    import check
    import workloads
    from tracing import Tracer, layer_metrics, run_probes, spark_jobs, wait_for_listeners

    w = workloads.WORKLOADS[args.workload]
    work = WORK_ROOT / f"{w.name}-{os.getpid()}"
    harness.reset_dir(work)
    harness.prepare_environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(work, trace=bool(args.trace))
        session_s = time.perf_counter() - t0

        t1 = time.perf_counter()
        st = workloads.stage(spark, work / "staging",
                             w.config(args.seed, args.tiny, args.seconds), args.seed)
        stage_s = time.perf_counter() - t1
        tracer = layers = None
        passes = []
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        res = w.run(spark, st, work / "tables", args.seconds)
        passes.append(res)
        warmup_s = res.warm_s
        setup_s = session_s + stage_s + warmup_s
        if args.trace:
            base = res
            tracer.enabled = True
            p0 = time.time()
            res = w.run(spark, st, work / "traced-tables", args.seconds,
                        tracer=tracer, warm=False)
            p1 = time.time()
            passes.append(res)
            n_pass = len(tracer.spans)
            probes = run_probes(spark, tracer, st, res)
            tracer.enabled = False
            tracer.restore()
            wait_for_listeners(spark)
            layers = layer_metrics(tracer, spark_jobs(spark), res, probes,
                                   n_pass, p1 - p0, harness.cores(), base)
            tracer.write(TRACE_DIR / f"{w.name}-seed{args.seed}.jsonl")

        expected = check.expected_state(spark, st.path, res.applied)
        if args.tamper_expected:
            url = min(expected)
            expected[url] = (-1,) + tuple(expected[url][1:])
        try:
            actual = check.actual_state(res.table)
        except Exception as e:  # an unreadable final table is a failed check
            res.errors.append(f"final read: {type(e).__name__}: {str(e)[:300]}")
            actual = {}
        result = check.compare(expected, actual)
        rss = harness.peak_rss_mb(harness.jvm_pid(spark))
    finally:
        if spark is not None:
            harness.stop_session(spark)
        harness.remove_tree(work)

    attempted = sum(p.attempted for p in passes) + 1
    failed = sum(p.failed for p in passes) + (0 if result.ok else 1)
    e2e = end_to_end(res, setup_s, rss, failed, attempted)
    record = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": harness.cores(),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "timings": {k: harness.timing_record(v) for k, v in (
            ("apply", res.apply_s), ("lookup", res.lookup_s),
            ("range_read", res.range_s), ("changelog", res.changelog_s)) if v},
        "setup": {"session_s": session_s, "stage_s": stage_s, "warmup_s": warmup_s},
        "events": res.events, "ingest_s": res.ingest_s,
        "check": vars(result),
        "attempted": attempted, "failed": failed,
        "errors": [e for p in passes for e in p.errors][:5],
    }
    if layers is not None:
        record["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    values = layers if args.trace else e2e
    out = {}
    for name, unit in declared_metrics("per_layer" if args.trace else "end_to_end").items():
        v, u = values[name]
        if u != unit:
            raise RuntimeError(f"{name}: measured in {u}, declared in {unit}")
        out[name] = {"value": v, "unit": unit}
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": out}
    return record, final


def main(argv=None) -> int:
    args = parse(argv)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        import tapdata_connectors_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    record, final = run(args)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
