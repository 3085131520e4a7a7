"""Spans around calls into the engine's public functions, recorded from the
benchmark's own files, plus Spark stage metrics attributed to those spans.

A span is opened by wrapping a public function or method (the wrapper is
installed on the class or module attribute the engine resolves at call
time) or explicitly around a read. Each span sets the Spark job group to
its own id, so every job — and through it every stage — launched while the
span is the innermost open one is attributed to it. Stage metrics are read
back from the SparkContext status store when the pass ends (it answers
with the UI disabled). Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "pb"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self._orig: dict[tuple, object] = {}
        # metadata-only reads (no span): per read / per apply tallies
        self.prune_in = 0
        self.prune_out = 0

    # ------------------------------------------------------------ spans
    def _set_group(self) -> None:
        gid = f"{GROUP_PREFIX}{self._stack[-1]}" if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "t0": time.time(), "t1": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._set_group()

    def open_span(self, name: str) -> dict | None:
        """Innermost open span called `name`, if any."""
        for sid in reversed(self._stack):
            if self.spans[sid]["name"] == name:
                return self.spans[sid]
        return None

    # ------------------------------------------------------------ patching
    def wrap(self, owner, attr: str, name: str | None, after=None) -> None:
        """Replace owner.attr by a wrapper that opens span `name` (None: no
        span, only the `after(span_or_None, args, kwargs, result)` hook)."""
        orig = getattr(owner, attr)
        self._orig[(owner, attr)] = orig
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            if name is None:
                out = orig(*a, **kw)
                after(None, a, kw, out)
                return out
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
                if after is not None:
                    after(rec, a, kw, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def original(self, owner, attr: str):
        return self._orig.get((owner, attr), getattr(owner, attr))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        """Wrap the engine's public layer boundaries."""
        import tapdata_connectors_spark.lake.delta as delta_mod
        import tapdata_connectors_spark.streaming.driver as driver_mod
        from tapdata_connectors_spark.lake.table import LakeTable
        from tapdata_connectors_spark.streaming import CdcPipeline

        self.wrap(CdcPipeline, "apply_epoch_chunk", "driver.apply")
        self.wrap(CdcPipeline, "apply_epoch", "driver.apply")

        def after_append(rec, a, kw, out):
            rec["attrs"]["files"] = out.get("delta_files", 0)

        # the streaming driver imports append_delta at call time but binds
        # merge_into at import, so merge_into is wrapped in its namespace
        self.wrap(delta_mod, "append_delta", "delta.append", after_append)

        def after_merge(rec, a, kw, out):
            rec["attrs"]["touched"] = len(kw.get("touched") or ())

        self.wrap(driver_mod, "merge_into", "merge.merge", after_merge)
        self.wrap(LakeTable, "commit_files", "table.commit")
        self.wrap(LakeTable, "compact", "table.compact")
        for ddl in ("add_column", "rename_column", "widen_column"):
            self.wrap(LakeTable, ddl, "ddl.apply")

        def after_manifest(_rec, a, kw, out):
            apply = self.open_span("driver.apply")
            if apply is not None:
                apply["attrs"]["manifest_calls"] = apply["attrs"].get("manifest_calls", 0) + 1

        self.wrap(LakeTable, "manifest", None, after_manifest)

        def after_prune(_rec, a, kw, out):
            files = a[2] if len(a) > 2 else kw["files"]
            self.prune_in += len(files)
            self.prune_out += len(out)

        self.wrap(LakeTable, "prune_entries", None, after_prune)

        def after_changed(_rec, a, kw, out):
            rd = self.open_span("table.read_changes")
            if rd is not None:
                rd["attrs"]["buckets"] = len(out)

        self.wrap(LakeTable, "changed_buckets", None, after_changed)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


# ---------------------------------------------------------- Spark metrics
def wait_for_listeners(spark) -> None:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(2.0)


def _opt(o):
    return o.get() if o.isDefined() else None


def spark_jobs(spark) -> list[dict]:
    """Every job the status store holds that ran under a span's job group,
    with its stages' metrics (each stage counted once)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    seen: set[int] = set()
    out: list[dict] = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        grp = _opt(j.jobGroup())
        if grp is None or not grp.startswith(GROUP_PREFIX):
            continue
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        rec = {"span": int(grp[len(GROUP_PREFIX):]),
               "t0": sub.getTime() / 1000.0 if sub is not None else None,
               "t1": done.getTime() / 1000.0 if done is not None else None,
               "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
               "input_mb": 0.0, "output_mb": 0.0, "spill_mb": 0.0}
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = int(sids.apply(k))
            if sid in seen:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            seen.add(sid)
            rec["tasks"] += st.numCompleteTasks()
            rec["run_s"] += st.executorRunTime() / 1e3
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            rec["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            rec["input_mb"] += st.inputBytes() / 1e6
            rec["output_mb"] += st.outputBytes() / 1e6
            rec["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out.append(rec)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        a = max(a, cur)
        if b > a:
            total += b - a
            cur = b
    return total


# ---------------------------------------------------------- fused layers
def run_probes(spark, tracer: Tracer, st, res, repeats: int = 3) -> dict:
    """Time the fold and the extraction UDF alone on the same epoch input,
    each into the no-op sink: inside the engine both run fused in the
    delta/merge write job, so span timing cannot separate them."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tapdata_connectors_spark.functions.text_extract import extract_text_udf
    from tapdata_connectors_spark.operators.dedup import lww_fold
    from tapdata_connectors_spark.operators.events import normalize_events
    from tapdata_connectors_spark.streaming import CdcPipeline

    from check import read_staged

    payload = CdcPipeline(spark, res.table.path, st.path).payload_specs()
    n_events = sum(st.events[e] for e in res.probe_epochs)
    out = {"fold": [], "udf": []}
    for _ in range(repeats):
        src = read_staged(spark, st.path, res.probe_epochs)
        obs = Observation()
        folded = lww_fold(normalize_events(src.filter(F.col("op") != "DDL")),
                          payload, key="url").observe(obs, F.count(F.lit(1)).alias("keys"))
        with tracer.span("probe.fold") as rec:
            folded.write.format("noop").mode("overwrite").save()
        rec["attrs"]["keys"] = obs.get["keys"]
        out["fold"].append(rec)

        obs = Observation()
        html = F.col("after.html")
        rows = src.filter(html.isNotNull()).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.length(html)).alias("bytes"))
        with tracer.span("probe.udf") as rec:
            rows.select(extract_text_udf(html).alias("text")) \
                .write.format("noop").mode("overwrite").save()
        rec["attrs"].update(obs.get)
        out["udf"].append(rec)
    out["events"] = n_events
    return out


# ---------------------------------------------------------- per-layer metrics
def layer_metrics(tracer: Tracer, jobs: list[dict], res, probes: dict,
                  n_pass: int, wall_s: float, cores: int, base) -> dict:
    """name -> (value, unit). Times are medians over the traced pass's
    spans of that name (0 when the workload never enters the layer);
    counts and bytes are per span, totals are over the traced pass."""
    import statistics

    spans = tracer.spans
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    jobs_by_span: dict[int, list[dict]] = {}
    for j in jobs:
        sid = j["span"]
        while sid is not None:  # a job counts for its span and every ancestor
            jobs_by_span.setdefault(sid, []).append(j)
            sid = spans[sid]["parent"]

    def of(name: str, probe: bool = False) -> list[dict]:
        return [s for s in spans if s["name"] == name and (s["id"] >= n_pass) == probe]

    def dur(s) -> float:
        return s["t1"] - s["t0"]

    def sub(s, key: str) -> float:
        return sum(j[key] for j in jobs_by_span.get(s["id"], []))

    def med(xs) -> float:
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def self_time(s) -> float:
        return dur(s) - covered([(c["t0"], c["t1"]) for c in children.get(s["id"], [])],
                                s["t0"], s["t1"])

    def idle(s) -> float:
        ivs = [(j["t0"], j["t1"]) for j in jobs_by_span.get(s["id"], [])
               if j["t0"] is not None and j["t1"] is not None]
        return dur(s) - covered(ivs, s["t0"], s["t1"])

    applies = of("driver.apply")
    appends = of("delta.append")
    commits = of("table.commit")
    compacts = of("table.compact")
    merges = of("merge.merge")
    ddls = of("ddl.apply")
    changes = of("table.read_changes")
    fold, udf = probes["fold"], probes["udf"]
    pass_jobs = [j for j in jobs if j["span"] < n_pass]

    def total(key: str) -> float:
        return sum(j[key] for j in pass_jobs)

    eps_base = base.events / base.ingest_s
    eps_traced = res.events / res.ingest_s
    return {
        "driver.apply_s": (med(dur(s) for s in applies), "s"),
        "driver.apply_self_s": (med(self_time(s) for s in applies), "s"),
        "driver.jobs_per_apply": (med(len(jobs_by_span.get(s["id"], [])) for s in applies), "count"),
        "driver.idle_s": (med(idle(s) for s in applies), "s"),
        "dedup.fold_s": (med(dur(s) for s in fold), "s"),
        "dedup.shuffle_write_mb": (med(sub(s, "shuffle_write_mb") for s in fold), "MB"),
        "dedup.keys_per_event": (med(s["attrs"]["keys"] for s in fold) / probes["events"], "ratio"),
        "text_extract.udf_s": (med(dur(s) for s in udf), "s"),
        "text_extract.rows": (med(s["attrs"]["rows"] for s in udf), "count"),
        "text_extract.html_mb": (med((s["attrs"]["bytes"] or 0) / 1e6 for s in udf), "MB"),
        "delta.append_s": (med(dur(s) for s in appends), "s"),
        "delta.files_written": (med(s["attrs"].get("files", 0) for s in appends), "count"),
        "delta.mb_written": (med(sub(s, "output_mb") for s in appends), "MB"),
        "table.commit_s": (med(dur(s) for s in commits), "s"),
        "table.commits": (len(commits), "count"),
        "table.manifest_calls": (med(s["attrs"].get("manifest_calls", 0) for s in applies), "count"),
        "table.compact_s": (med(dur(s) for s in compacts), "s"),
        "table.compactions": (len(compacts), "count"),
        "table.compact_mb_rewritten": (med(sub(s, "output_mb") for s in compacts), "MB"),
        "table.delta_files_pending": (med(res.delta_pending), "count"),
        "table.prune_files_in": (tracer.prune_in, "count"),
        "table.prune_files_out": (tracer.prune_out, "count"),
        "table.prune_keep_ratio": (tracer.prune_out / tracer.prune_in if tracer.prune_in else 1.0, "ratio"),
        "table.changelog_buckets": (med(s["attrs"].get("buckets", 0) for s in changes), "count"),
        "merge.merge_s": (med(dur(s) for s in merges), "s"),
        "merge.rewrite_mb": (med(sub(s, "output_mb") for s in merges), "MB"),
        "merge.touched_buckets": (med(s["attrs"].get("touched", 0) for s in merges), "count"),
        "ddl.apply_s": (med(dur(s) for s in ddls), "s"),
        "spark.jobs": (len(pass_jobs), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.executor_run_s": (total("run_s"), "s"),
        "spark.executor_cpu_s": (total("cpu_s"), "s"),
        "spark.gc_s": (total("gc_s"), "s"),
        "spark.shuffle_read_mb": (total("shuffle_read_mb"), "MB"),
        "spark.shuffle_write_mb": (total("shuffle_write_mb"), "MB"),
        "spark.input_mb": (total("input_mb"), "MB"),
        "spark.output_mb": (total("output_mb"), "MB"),
        "spark.spill_mb": (total("spill_mb"), "MB"),
        "spark.core_busy_ratio": (total("run_s") / (wall_s * cores), "ratio"),
        "trace.overhead_ratio": (eps_base / eps_traced - 1.0, "ratio"),
    }
