"""The benchmark's CDC workloads, driven through the engine's public API.

Each workload stages a seeded event log with the engine's generator, then
runs one measured pass: a fixed amount of work sized from `--seconds` (the
same work on every commit, so figures compare), with one client thread in
a closed loop. Every pass ends with the same read batch kinds, so every
workload reports every end-to-end metric:

- `bulk_catchup`: catch-up replay of a whole backlog into a fresh MOR
  table (`replay_batch(epoch_batch=...)` then `compact`), repeated in
  rounds; reads run against each caught-up table before it is compacted.
- `trickle_serve`: a bootstrapped MOR table tails one small epoch per
  `apply_epoch_chunk([e])`; after every apply a read batch runs against
  the new snapshot (lookups, a `warc_ts` range, the changelog since the
  previous version), with delta files piling up between compactions.
- `cow_ddl`: copy-on-write `apply_epoch` per epoch, with ADD_COLUMN,
  RENAME_COLUMN and TYPE_WIDEN barriers mid-stream; reads at the end.
"""

from __future__ import annotations

import datetime
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from tapdata_connectors_spark.sources import (
    DdlSpec, GeneratorConfig, generate_events, stage_events,
)
from tapdata_connectors_spark.streaming import CdcPipeline

from check import read_staged
from harness import ceil_div, dir_mb, reset_dir

_EPOCH0 = datetime.datetime(1970, 1, 1)


def _ts(micros: int) -> datetime.datetime:
    return _EPOCH0 + datetime.timedelta(microseconds=micros)


@dataclass
class Staged:
    path: str
    epochs: list[int]
    events: dict[int, int]  # DML events per epoch
    ts_range: dict[int, tuple[int, int]]  # warc_ts micros per epoch
    ddl_epochs: set[int]
    keys: list[str]  # inserted urls, a seeded sample for lookups


@dataclass
class PassResult:
    apply_s: list[float] = field(default_factory=list)
    events: int = 0
    ingest_s: float = 0.0  # time inside apply/compact calls
    warm_s: float = 0.0  # first use of the apply path, unmeasured
    lookup_s: list[float] = field(default_factory=list)
    range_s: list[float] = field(default_factory=list)
    changelog_s: list[float] = field(default_factory=list)
    delta_pending: list[int] = field(default_factory=list)
    table_mb: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    table: object = None  # LakeTable checked at the end
    applied: list[int] = field(default_factory=list)  # epochs in `table`
    probe_epochs: list[int] = field(default_factory=list)

    def attempt(self, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failed operation is a result, not a crash
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            return None

    def timed(self, fn, into: list[float]):
        t = time.perf_counter()
        out = self.attempt(fn)
        into.append(time.perf_counter() - t)
        return out


def stage(spark, path: Path, cfg: GeneratorConfig, seed: int) -> Staged:
    stage_events(generate_events(spark, cfg), str(path))
    df = read_staged(spark, str(path))
    per = df.groupBy("epoch").agg(
        F.sum((F.col("op") != "DDL").cast("long")).alias("n"),
        F.min(F.unix_micros("warc_ts")).alias("lo"),
        F.max(F.unix_micros("warc_ts")).alias("hi"),
        F.max((F.col("op") == "DDL").cast("int")).alias("ddl"),
        F.collect_set(F.when(F.col("op") == "I", F.col("url"))).alias("urls"),
    ).collect()
    first = min(per, key=lambda r: r["epoch"])
    return Staged(
        path=str(path),
        epochs=sorted(r["epoch"] for r in per),
        events={r["epoch"]: r["n"] for r in per},
        ts_range={r["epoch"]: (r["lo"], r["hi"]) for r in per},
        ddl_epochs={r["epoch"] for r in per if r["ddl"]},
        # lookup keys: urls inserted by the first epoch, sampled by seed
        keys=random.Random(seed).sample(sorted(first["urls"]),
                                        min(len(first["urls"]), 64)),
    )


def read_batch(res: PassResult, tracer, table, keys: list[str],
               windows: list[tuple[int, int]], since: list[int]) -> None:
    """Lookups return rows to the client; range and changelog reads are
    materialized in full into Spark's no-op sink."""
    from tapdata_connectors_spark.lake.table import LakeTable

    def pending() -> None:
        if tracer is not None and tracer.enabled:
            m = tracer.original(LakeTable, "manifest")(table)
            res.delta_pending.append(sum(1 for f in m.files if f.get("kind") == "delta"))

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def span(name):
        return tracer.span(name) if tracer is not None else nullcontext()

    for k in keys:
        pending()
        with span("table.lookup"):
            res.timed(lambda: table.lookup(k).collect(), res.lookup_s)
    for lo, hi in windows:
        pending()
        with span("table.read_range"):
            res.timed(lambda: noop(table.read_range({"warc_ts": (_ts(lo), _ts(hi))})),
                      res.range_s)
    for v in since:
        pending()
        with span("table.read_changes"):
            res.timed(lambda: noop(table.read_changes(v)), res.changelog_s)


def _window(st: Staged, e: int, q: int = 0) -> tuple[int, int]:
    """Quarter q of epoch e's warc_ts range."""
    lo, hi = st.ts_range[e]
    step = (hi - lo) // 4
    return lo + q * step, lo + (q + 1) * step


# ------------------------------------------------------------ workloads
class BulkCatchup:
    name = "bulk_catchup"
    ROUND_S = 20.0  # nominal round time on the 4-core reference host
    EPOCH_BATCH = 2
    LOOKUPS = 6

    def config(self, seed: int, tiny: bool, seconds: float) -> GeneratorConfig:
        epoch = 250 if tiny else 2_000
        n = epoch * (4 if tiny else 6)
        return GeneratorConfig(
            n_events=n, n_urls=max(50, n // 8), epoch_size=epoch, seed=seed,
            p_hot=0.10, p_dup=0.01, p_update=0.35, p_delete=0.10, html_kb=3,
        )

    def pipeline(self, spark, tdir: Path, st: Staged) -> CdcPipeline:
        return CdcPipeline(spark, str(tdir), st.path, n_buckets=8, merge_mode="mor")

    def run(self, spark, st: Staged, tables: Path, seconds: float,
            tracer=None, warm: bool = True) -> PassResult:
        res = PassResult()
        if warm:  # the first epoch into a scratch table, then compacted
            t = time.perf_counter()
            pipe = self.pipeline(spark, reset_dir(tables / "warm"), st)
            res.attempt(lambda: pipe.apply_epoch_chunk(st.epochs[:1]))
            res.attempt(lambda: pipe.table.compact())
            res.warm_s = time.perf_counter() - t
        rounds = ceil_div(seconds, self.ROUND_S)
        for r in range(rounds):
            tdir = reset_dir(tables / f"round{r}")
            pipe = self.pipeline(spark, tdir, st)
            pre: list[int] = []
            chunk = pipe.apply_epoch_chunk

            def timed_chunk(epochs, _chunk=chunk, _pipe=pipe):
                if _pipe.table.exists():
                    pre.append(_pipe.table.current_version())
                t = time.perf_counter()
                try:
                    return _chunk(epochs)
                finally:
                    res.apply_s.append(time.perf_counter() - t)

            # replay_batch resolves self.apply_epoch_chunk per chunk, so the
            # instance attribute times every chunk apply
            pipe.apply_epoch_chunk = timed_chunk
            t = time.perf_counter()
            res.attempt(lambda: pipe.replay_batch(epoch_batch=self.EPOCH_BATCH))
            res.ingest_s += time.perf_counter() - t
            # readers see the caught-up snapshot before compaction, with
            # every chunk's delta files still pending
            read_batch(res, tracer, pipe.table, st.keys[:self.LOOKUPS],
                       [_window(st, e) for e in st.epochs[1::3]], pre[-1:])
            t = time.perf_counter()
            res.attempt(lambda: pipe.table.compact())
            res.ingest_s += time.perf_counter() - t
            res.events += sum(st.events.values())
            res.table_mb.append(dir_mb(tdir))
            res.table, res.applied = pipe.table, list(st.epochs)
        res.probe_epochs = st.epochs[:self.EPOCH_BATCH]
        return res


class TrickleServe:
    name = "trickle_serve"
    CYCLE_S = 7.0
    BOOT_EPOCHS = 4
    COMPACT_EVERY = 4
    LOOKUPS = 2

    def cycles(self, seconds: float, tiny: bool) -> int:
        return 2 if tiny else ceil_div(seconds, self.CYCLE_S)

    def config(self, seed: int, tiny: bool, seconds: float) -> GeneratorConfig:
        epoch = 200 if tiny else 3_000
        n = epoch * (self.BOOT_EPOCHS + self.cycles(seconds, tiny))
        return GeneratorConfig(
            n_events=n, n_urls=max(50, epoch * 4 // 3), epoch_size=epoch,
            seed=seed, p_hot=0.10, p_dup=0.01, p_update=0.35, p_delete=0.10,
            html_kb=1,
        )

    def pipeline(self, spark, tdir: Path, st: Staged) -> CdcPipeline:
        return CdcPipeline(spark, str(tdir), st.path, n_buckets=8,
                           merge_mode="mor", compact_every=self.COMPACT_EVERY)

    def run(self, spark, st: Staged, tables: Path, seconds: float,
            tracer=None, warm: bool = True) -> PassResult:
        res = PassResult()
        tdir = reset_dir(tables / "trickle")
        pipe = self.pipeline(spark, tdir, st)
        boot, tail = st.epochs[:self.BOOT_EPOCHS], st.epochs[self.BOOT_EPOCHS:]
        t = time.perf_counter()
        res.attempt(lambda: pipe.apply_epoch_chunk(boot))
        res.warm_s = time.perf_counter() - t
        for i, e in enumerate(tail):
            v0 = pipe.table.current_version()
            res.timed(lambda: pipe.apply_epoch_chunk([e]), res.apply_s)
            res.ingest_s += res.apply_s[-1]
            res.events += st.events[e]
            keys = [st.keys[(i * self.LOOKUPS + j) % len(st.keys)]
                    for j in range(self.LOOKUPS)]
            read_batch(res, tracer, pipe.table, keys, [_window(st, e)], [v0])
        res.table_mb.append(dir_mb(tdir))
        res.table, res.applied = pipe.table, list(st.epochs)
        res.probe_epochs = tail[:1]
        return res


class CowDdl:
    name = "cow_ddl"
    EPOCH_S = 10.0
    BOOT_EPOCHS = 1
    LOOKUPS = 12

    def epochs(self, seconds: float, tiny: bool) -> int:
        return 2 if tiny else max(2, ceil_div(seconds, self.EPOCH_S))

    def config(self, seed: int, tiny: bool, seconds: float) -> GeneratorConfig:
        epoch = 200 if tiny else 2_000
        n = epoch * (self.BOOT_EPOCHS + self.epochs(seconds, tiny))
        first = self.BOOT_EPOCHS * epoch
        # barriers at the heads of the first two measured epochs (ADD and
        # RENAME, then WIDEN): the slices before them are empty, so each
        # barrier adds a DDL commit and an empty-slice check, not a merge
        add, ren, wid = first, first + 1, first + epoch
        return GeneratorConfig(
            n_events=n, n_urls=max(50, epoch), epoch_size=epoch, seed=seed,
            p_hot=0.10, p_dup=0.01, p_update=0.35, p_delete=0.10, html_kb=1,
            ddl=(
                DdlSpec(seq=add, kind="ADD_COLUMN", column="views", new_type="int"),
                DdlSpec(seq=ren, kind="RENAME_COLUMN", column="views",
                        new_name="view_count"),
                DdlSpec(seq=wid, kind="TYPE_WIDEN", column="view_count",
                        new_type="bigint"),
            ),
            extras_cols=(("views", add, "int"), ("view_count", ren, "bigint")),
        )

    def pipeline(self, spark, tdir: Path, st: Staged) -> CdcPipeline:
        return CdcPipeline(spark, str(tdir), st.path, n_buckets=8, merge_mode="cow")

    @staticmethod
    def apply(spark, pipe: CdcPipeline, st: Staged, e: int):
        df = read_staged(spark, st.path, [e])
        return pipe.apply_epoch(df, e, has_ddl=e in st.ddl_epochs)

    def run(self, spark, st: Staged, tables: Path, seconds: float,
            tracer=None, warm: bool = True) -> PassResult:
        res = PassResult()
        tdir = reset_dir(tables / "cow")
        pipe = self.pipeline(spark, tdir, st)
        boot, measured = st.epochs[:self.BOOT_EPOCHS], st.epochs[self.BOOT_EPOCHS:]
        t = time.perf_counter()
        for e in boot:
            res.attempt(lambda: self.apply(spark, pipe, st, e))
        res.warm_s = time.perf_counter() - t
        versions = []
        for e in measured:
            versions.append(pipe.table.current_version())
            res.timed(lambda: self.apply(spark, pipe, st, e), res.apply_s)
            res.ingest_s += res.apply_s[-1]
            res.events += st.events[e]
        res.table_mb.append(dir_mb(tdir))
        read_batch(res, tracer, pipe.table, st.keys[:self.LOOKUPS],
                   [_window(st, e, q) for e in measured for q in (0, 2)],
                   versions)
        res.table, res.applied = pipe.table, list(st.epochs)
        res.probe_epochs = measured[:1]
        return res


WORKLOADS = {w.name: w for w in (BulkCatchup(), TrickleServe(), CowDdl())}
