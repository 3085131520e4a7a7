"""End-to-end replay fixtures F1-F11 (FIXTURES.md §4): generated CDC event
logs replayed through the engine, final lake state asserted equal to the
independent Python oracle — the decisive correctness gate of SURVEY.md §5."""

from __future__ import annotations

import pytest

from tapdata_connectors_spark.sources.generator import (
    DdlSpec,
    GeneratorConfig,
    generate_events,
    stage_events,
)
from tapdata_connectors_spark.streaming.driver import CdcPipeline
from tests.helpers import assert_state_equal, oracle_replay


def run(spark, tmpdir_, cfg: GeneratorConfig, n_buckets=4, **pipe_kw):
    ev = generate_events(spark, cfg)
    stage_events(ev, f"{tmpdir_}/staging")
    pipe = CdcPipeline(spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging",
                       n_buckets=n_buckets, **pipe_kw)
    pipe.replay_batch()
    oracle = oracle_replay(ev.collect())
    assert_state_equal(pipe.table.read(), oracle)
    return pipe, ev


def test_f1_pure_inserts(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=400, n_urls=400, epoch_size=200,
                          p_update=0.0, p_delete=0.0)
    pipe, _ = run(spark, tmpdir_, cfg)
    assert pipe.table.read().count() > 0


def test_f2_f3_upsert_delete_reinsert(spark, tmpdir_):
    # heavy update/delete mix across epochs exercises upsert + delete + reinsert
    cfg = GeneratorConfig(n_events=1200, n_urls=120, epoch_size=300,
                          p_update=0.45, p_delete=0.2)
    run(spark, tmpdir_, cfg)


def test_f4_duplicate_deliveries(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=800, n_urls=100, epoch_size=400, p_dup=0.15)
    run(spark, tmpdir_, cfg)


def test_f5_out_of_order_within_epoch(spark, tmpdir_):
    # staging writes shuffle row order arbitrarily; fold is order-insensitive.
    # Assert explicitly: replaying a randomly re-ordered copy of the same
    # epoch produces the identical state.
    cfg = GeneratorConfig(n_events=600, n_urls=80, epoch_size=300)
    ev = generate_events(spark, cfg)
    stage_events(ev.orderBy("url"), f"{tmpdir_}/s1")     # one clustering
    stage_events(ev.orderBy("warc_ts"), f"{tmpdir_}/s2")  # another
    p1 = CdcPipeline(spark, f"{tmpdir_}/t1", f"{tmpdir_}/s1", n_buckets=4)
    p2 = CdcPipeline(spark, f"{tmpdir_}/t2", f"{tmpdir_}/s2", n_buckets=4)
    p1.replay_batch(); p2.replay_batch()
    oracle = oracle_replay(ev.collect())
    assert_state_equal(p1.table.read(), oracle)
    assert_state_equal(p2.table.read(), oracle)


def test_f6_update_with_null_before(spark, tmpdir_):
    # generator always emits null before-images: PK resolves from the event's
    # url/after (reference DbKit.java:177-186). Covered by any passing run.
    cfg = GeneratorConfig(n_events=400, n_urls=60, epoch_size=200, p_update=0.6)
    _, ev = run(spark, tmpdir_, cfg)
    assert ev.filter("before is not null").count() == 0


def test_f7_removed_fields(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=800, n_urls=80, epoch_size=400,
                          p_update=0.5, p_removed_lang=0.3)
    _, ev = run(spark, tmpdir_, cfg)
    assert ev.filter("removed_fields is not null").count() > 0


def test_f8_ddl_add_column_mid_stream(spark, tmpdir_):
    cfg = GeneratorConfig(
        n_events=900, n_urls=90, epoch_size=300,
        ddl=(DdlSpec(seq=450, kind="ADD_COLUMN", column="views", new_type="int"),),
        extras_cols=(("views", 450, "int"),),
    )
    pipe, _ = run(spark, tmpdir_, cfg)
    df = pipe.table.read()
    assert "views" in df.columns
    assert df.filter("views is not null").count() > 0


def test_f9_ddl_rename_and_widen(spark, tmpdir_):
    cfg = GeneratorConfig(
        n_events=1200, n_urls=90, epoch_size=300,
        ddl=(
            DdlSpec(seq=300, kind="ADD_COLUMN", column="views", new_type="int"),
            DdlSpec(seq=600, kind="RENAME_COLUMN", column="views", new_name="view_count"),
            DdlSpec(seq=900, kind="TYPE_WIDEN", column="view_count", new_type="bigint"),
        ),
        extras_cols=(("views", 300, "int"),),
    )
    # NOTE: after the rename the generator keeps writing extras under the key
    # "views" — but real binlogs switch to the new name. Model that:
    cfg = GeneratorConfig(
        n_events=1200, n_urls=90, epoch_size=300,
        ddl=cfg.ddl,
        extras_cols=(("views", 300, "int"), ("view_count", 600, "bigint")),
    )
    pipe, _ = run(spark, tmpdir_, cfg)
    df = pipe.table.read()
    assert "view_count" in df.columns and "views" not in df.columns
    assert {f.name: f.dataType.simpleString() for f in df.schema.fields}[
        "view_count"
    ] == "bigint"


def test_f10_hot_key_skew(spark, tmpdir_):
    # 80% of events on the hot 1% of urls: correctness must be unaffected
    cfg = GeneratorConfig(n_events=2000, n_urls=500, epoch_size=1000, p_hot=0.8)
    run(spark, tmpdir_, cfg)


def test_f11_kill_and_resume(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=1000, n_urls=100, epoch_size=250)
    ev = generate_events(spark, cfg)
    stage_events(ev, f"{tmpdir_}/staging")

    # crash after epoch 1: apply first two epochs only
    from pyspark.sql import functions as F
    from tapdata_connectors_spark.schema import EVENTS_SCHEMA
    p = CdcPipeline(spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging", n_buckets=4)
    for e in (0, 1):
        df = spark.read.schema(EVENTS_SCHEMA).parquet(f"{tmpdir_}/staging/epoch={e}")
        p.apply_epoch(df, e)
    v_mid = p.table.current_version()

    # restart: full replay must skip applied epochs and finish the rest
    p2 = CdcPipeline(spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging", n_buckets=4)
    res = p2.replay_batch()
    skipped = [r for r in res if r.get("skipped")]
    assert len(skipped) == 2  # epochs 0,1 were no-ops

    oracle = oracle_replay(ev.collect())
    assert_state_equal(p2.table.read(), oracle)

    # and a second full replay is entirely idempotent
    v_done = p2.table.current_version()
    res2 = p2.replay_batch()
    assert all(r.get("skipped") for r in res2)
    assert p2.table.current_version() == v_done
    assert v_done > v_mid


def test_policy_insert_on_nonexists(spark, tmpdir_):
    from tapdata_connectors_spark.plans.policies import WritePolicy
    cfg = GeneratorConfig(n_events=600, n_urls=80, epoch_size=300, p_update=0.6)
    ev = generate_events(spark, cfg)
    stage_events(ev, f"{tmpdir_}/staging")
    pipe = CdcPipeline(
        spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging", n_buckets=4,
        policy=WritePolicy(update_policy="insert_on_nonexists"),
    )
    pipe.replay_batch()
    oracle = oracle_replay(ev.collect(), update_policy="insert_on_nonexists")
    assert_state_equal(pipe.table.read(), oracle)


def test_policy_ignore_on_exists(spark, tmpdir_):
    from tapdata_connectors_spark.plans.policies import WritePolicy
    cfg = GeneratorConfig(n_events=600, n_urls=60, epoch_size=300, p_update=0.2)
    ev = generate_events(spark, cfg)
    stage_events(ev, f"{tmpdir_}/staging")
    pipe = CdcPipeline(
        spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging", n_buckets=4,
        policy=WritePolicy(insert_policy="ignore_on_exists"),
    )
    pipe.replay_batch()
    oracle = oracle_replay(ev.collect(), insert_policy="ignore_on_exists")
    assert_state_equal(pipe.table.read(), oracle)


def test_ddl_drop_column(spark, tmpdir_):
    # add a column, use it, then drop it mid-stream (TapDropFieldEvent)
    cfg = GeneratorConfig(
        n_events=900, n_urls=90, epoch_size=300,
        ddl=(
            DdlSpec(seq=200, kind="ADD_COLUMN", column="views", new_type="int"),
            DdlSpec(seq=600, kind="DROP_COLUMN", column="views"),
        ),
        extras_cols=(("views", 200, "int"),),
    )
    pipe, _ = run(spark, tmpdir_, cfg)
    assert "views" not in pipe.table.read().columns


def test_tombstone_expiry(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=600, n_urls=60, epoch_size=300, p_delete=0.3)
    pipe, ev = run(spark, tmpdir_, cfg)
    raw = pipe.table.read_raw()
    n_tombs = raw.filter("_deleted").count()
    assert n_tombs > 0
    before = pipe.table.read().count()
    pipe.table.compact(buckets=list(range(4)), expire_tombstones=True)
    assert pipe.table.read_raw().filter("_deleted").count() == 0
    assert pipe.table.read().count() == before  # visible state unchanged


def test_f13_update_of_pk(spark, tmpdir_):
    # key-changing updates apply as delete(old)+insert(new) — hudi
    # ClientPerformer.java:107-132; fold sees them pre-split
    # (operators/events.normalize_events)
    cfg = GeneratorConfig(n_events=800, n_urls=80, epoch_size=400,
                          p_update=0.5, p_key_change=0.3)
    _, ev = run(spark, tmpdir_, cfg)
    assert ev.filter("before.url is not null and before.url <> url").count() > 0


def test_f13_update_of_pk_mor(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=800, n_urls=80, epoch_size=400,
                          p_update=0.5, p_key_change=0.3)
    run(spark, tmpdir_, cfg, merge_mode="mor")


def test_f14_null_pk_skipped_and_counted(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=800, n_urls=80, epoch_size=400,
                          p_update=0.4, p_null_pk=0.1)
    pipe, ev = run(spark, tmpdir_, cfg)
    n_null = ev.filter(
        "url is null and after.url is null and before.url is null"
    ).count()
    assert n_null > 0
    # skipped events are accounted under lineage partition -2
    lin = pipe.lineage().filter("partition_id = -2")
    assert lin.agg({"n_events": "sum"}).collect()[0][0] == n_null


def test_f14_null_pk_mor(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=800, n_urls=80, epoch_size=400,
                          p_update=0.4, p_null_pk=0.1, p_delete=0.15)
    pipe, ev = run(spark, tmpdir_, cfg, merge_mode="mor")
    n_null = ev.filter("url is null").count()
    lin = pipe.lineage().filter("partition_id = -2")
    assert lin.agg({"n_events": "sum"}).collect()[0][0] == n_null


def test_f13_f14_combined_with_dups(spark, tmpdir_):
    cfg = GeneratorConfig(n_events=1200, n_urls=100, epoch_size=300,
                          p_update=0.5, p_delete=0.1, p_key_change=0.2,
                          p_null_pk=0.05, p_dup=0.1)
    run(spark, tmpdir_, cfg)


def test_resume_from_timestamp_api(spark, tmpdir_):
    # start_at(ts) maps a wall-clock restart point to the first epoch and
    # skips everything earlier (timestampToStreamOffset analog,
    # MysqlConnector.java:760-771)
    cfg = GeneratorConfig(n_events=1000, n_urls=100, epoch_size=250,
                          p_update=0.4, p_delete=0.1)
    ev = generate_events(spark, cfg)
    stage_events(ev, f"{tmpdir_}/staging")

    # a ts inside epoch 2 (warc_ts = 1_700_000_000_000 + seq*250 ms)
    import datetime as dt
    cut = dt.datetime.utcfromtimestamp((1_700_000_000_000 + 500 * 250) / 1000)

    pipe = CdcPipeline(spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging", n_buckets=4)
    e0 = pipe.start_at(cut)
    assert e0 == 2
    pipe.replay_batch()

    rows = [r for r in ev.collect() if r["epoch"] >= e0]
    oracle = oracle_replay(rows)
    assert_state_equal(pipe.table.read(), oracle)

    # past-the-end timestamp: nothing to replay
    p2 = CdcPipeline(spark, f"{tmpdir_}/t2", f"{tmpdir_}/staging", n_buckets=4)
    assert p2.start_at(dt.datetime(2100, 1, 1)) is None
    assert p2.replay_batch() == []


def test_ddl_add_column_with_specs(spark, tmpdir_):
    # DEFAULT / NOT NULL / COMMENT attribute specs
    # (MysqlAddColumnDDLWrapper.java:35-98): pre-ADD rows read the initial
    # default; attributes land in the manifest schema
    cfg = GeneratorConfig(
        n_events=400, n_urls=300, epoch_size=200, p_update=0.2, p_delete=0.05,
        ddl=(DdlSpec(seq=200, kind="ADD_COLUMN", column="views",
                     new_type="int", new_default="7", not_null=False,
                     comment="page view counter"),),
        extras_cols=(("views", 200, "int"),),
    )
    pipe, _ = run(spark, tmpdir_, cfg)
    df = pipe.table.read()
    # rows never touched after the ADD carry the default, not null
    assert df.filter("views = 7").count() > 0
    f = [f for f in pipe.table.manifest().fields if f.name == "views"][0]
    assert f.default == "7" and f.comment == "page view counter"


def _read_epoch(spark, staging, e):
    from tapdata_connectors_spark.schema import EVENTS_SCHEMA

    return spark.read.schema(EVENTS_SCHEMA).parquet(f"{staging}/epoch={e}")


def test_ddl_head_barriers_skip_empty_slices(spark, tmpdir_, monkeypatch):
    # ADD and RENAME back to back at the head of epoch 1: of its three
    # slices, (-inf, 300) and (300, 301) hold no DML event and must cost
    # no fold; the events at the barrier seqs belong to no slice
    from tapdata_connectors_spark.streaming import driver

    cfg = GeneratorConfig(
        n_events=600, n_urls=60, epoch_size=300,
        ddl=(
            DdlSpec(seq=300, kind="ADD_COLUMN", column="views", new_type="int"),
            DdlSpec(seq=301, kind="RENAME_COLUMN", column="views", new_name="view_count"),
        ),
        extras_cols=(("views", 300, "int"), ("view_count", 301, "int")),
    )
    ev = generate_events(spark, cfg)
    stage_events(ev, f"{tmpdir_}/staging")
    pipe = CdcPipeline(spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging", n_buckets=4)
    folds = []
    real_fold = driver.lww_fold

    def spy(*a, **kw):
        folds.append(1)
        return real_fold(*a, **kw)

    monkeypatch.setattr(driver, "lww_fold", spy)
    pipe.apply_epoch(_read_epoch(spark, f"{tmpdir_}/staging", 0), 0)
    n0 = len(folds)
    out = pipe.apply_epoch(_read_epoch(spark, f"{tmpdir_}/staging", 1), 1)

    assert len(folds) - n0 == 1
    assert [m["epoch_key"] for m in out] == ["e1:s0", "e1:s1", "e1:s2"]
    assert out[:2] == [{"skipped": True, "empty": True, "epoch_key": f"e1:s{i}"}
                       for i in (0, 1)]
    assert out[2]["n_events"] > 0
    applied = pipe.table.manifest().applied_epochs
    assert "e1:s2" in applied and not {"e1:s0", "e1:s1"} & set(applied)
    assert_state_equal(pipe.table.read(), oracle_replay(ev.collect()))


def _expected_lineage(event_rows, n_buckets, stamp):
    """(stamped epoch, slice, partition) -> [n_events, n_insert, n_update,
    n_delete, offset_start, offset_end] computed from the staged events.
    A slice's index is the number of barriers below the event's seq; an
    event at a barrier's seq is in no slice."""
    from tapdata_connectors_spark.functions.xxh import spark_xxhash64

    bounds: dict[int, list[int]] = {}
    for r in event_rows:
        if r["op"] == "DDL":
            bounds.setdefault(r["epoch"], []).append(r["event_seq"])
    out: dict[tuple, list[int]] = {}
    for r in event_rows:
        seq, b = r["event_seq"], bounds.get(r["epoch"], [])
        if r["op"] == "DDL" or seq in b:
            continue
        part = spark_xxhash64(r["url"], "string") % n_buckets
        c = out.setdefault((stamp[r["epoch"]], sum(seq > x for x in b), part),
                           [0, 0, 0, 0, seq, seq])
        c[0] += 1
        c[1 + "IUD".index(r["op"])] += 1
        c[4], c[5] = min(c[4], seq), max(c[5], seq)
    return out


def test_lineage_flush_runs_no_spark_job(spark, tmpdir_, monkeypatch):
    from tapdata_connectors_spark.schema import LINEAGE_SCHEMA

    # ADD at the head of epoch 2 (empty first slice), RENAME mid-epoch
    cfg = GeneratorConfig(
        n_events=1200, n_urls=100, epoch_size=300, p_update=0.4, p_delete=0.1,
        ddl=(
            DdlSpec(seq=600, kind="ADD_COLUMN", column="views", new_type="int"),
            DdlSpec(seq=750, kind="RENAME_COLUMN", column="views", new_name="view_count"),
        ),
        extras_cols=(("views", 600, "int"), ("view_count", 750, "int")),
    )
    ev = generate_events(spark, cfg)
    stage_events(ev, f"{tmpdir_}/staging")
    rows = ev.collect()
    tracker = spark.sparkContext.statusTracker()
    want_cols = [(f.name, f.dataType) for f in LINEAGE_SCHEMA.fields]
    cols = ["n_events", "n_insert", "n_update", "n_delete",
            "offset_start", "offset_end"]

    def replay(mode, **kw):
        pipe = CdcPipeline(spark, f"{tmpdir_}/{mode}", f"{tmpdir_}/staging",
                           n_buckets=4, merge_mode=mode)
        launched, real_flush = [], pipe.flush_lineage

        def flush():
            had_rows = bool(pipe._lineage_rows)
            before = set(tracker.getJobIdsForGroup(None))
            real_flush()
            launched.append((had_rows, set(tracker.getJobIdsForGroup(None)) - before))

        monkeypatch.setattr(pipe, "flush_lineage", flush)
        pipe.replay_batch(**kw)
        assert any(had for had, _ in launched)
        assert all(not jobs for _, jobs in launched)
        lin = pipe.lineage()
        assert [(f.name, f.dataType) for f in lin.schema.fields] == want_cols
        assert_state_equal(pipe.table.read(), oracle_replay(rows))
        return {(r["epoch"], r["sub_epoch"], r["partition_id"]): [r[c] for c in cols]
                for r in lin.collect()}

    # COW: one row per (epoch, slice, bucket)
    got = replay("cow")
    assert got == _expected_lineage(rows, 4, {e: e for e in range(4)})

    # MOR chunks of 2 DDL-free epochs, stamped with their first member; the
    # slice-global row (partition -1) carries the counts, bucket rows the
    # partitions the chunk touched
    want = _expected_lineage(rows, 4, {0: 0, 1: 0, 2: 2, 3: 3})
    got = replay("mor", epoch_batch=2)
    slices = {k[:2] for k in want}
    assert {k[:2] for k in got} == slices
    for s in slices:
        per = [v for k, v in want.items() if k[:2] == s]
        agg = [sum(v[i] for v in per) for i in range(4)]
        agg += [min(v[4] for v in per), max(v[5] for v in per)]
        assert got[(*s, -1)] == agg
        assert {k[2] for k in got if k[:2] == s and k[2] >= 0} == {
            k[2] for k in want if k[:2] == s}


def test_lineage_keeps_parquet_flushes_of_earlier_versions(spark, tmpdir_, monkeypatch):
    # earlier versions flushed lineage as parquet through a Spark write; a
    # pipeline resumed on that directory must return those rows too
    from tapdata_connectors_spark.schema import LINEAGE_SCHEMA

    cfg = GeneratorConfig(n_events=900, n_urls=100, epoch_size=300,
                          p_update=0.4, p_delete=0.1)
    ev = generate_events(spark, cfg)
    rows = ev.collect()
    staging = f"{tmpdir_}/staging"
    stage_events(ev.filter("epoch < 2"), staging)
    old = CdcPipeline(spark, f"{tmpdir_}/pages", staging, n_buckets=4)

    def parquet_flush():
        buffered, old._lineage_rows = old._lineage_rows, []
        if buffered:
            (spark.createDataFrame(buffered, LINEAGE_SCHEMA).coalesce(1)
             .write.mode("append").parquet(old.lineage_path))

    monkeypatch.setattr(old, "flush_lineage", parquet_flush)
    old.replay_batch()
    stage_events(ev.filter("epoch >= 2"), staging, mode="append")
    pipe = CdcPipeline(spark, f"{tmpdir_}/pages", staging, n_buckets=4)
    pipe.replay_batch()

    import glob
    assert glob.glob(f"{pipe.lineage_path}/*.parquet")
    assert glob.glob(f"{pipe.lineage_path}/*.jsonl")
    cols = ["n_events", "n_insert", "n_update", "n_delete",
            "offset_start", "offset_end"]
    lin = pipe.lineage()
    assert [(f.name, f.dataType) for f in lin.schema.fields] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA.fields]
    got = {(r["epoch"], r["sub_epoch"], r["partition_id"]): [r[c] for c in cols]
           for r in lin.collect()}
    assert got == _expected_lineage(rows, 4, {e: e for e in range(3)})


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_ddl_mid_epoch_gap_slice_is_empty(spark, tmpdir_, mode):
    # ADD and RENAME mid-epoch with a seq gap between them that holds no
    # DML event: the seq range cannot prove the middle slice empty, so it
    # is folded, and the empty fold still yields the empty-slice entry
    cfg = GeneratorConfig(
        n_events=600, n_urls=60, epoch_size=300,
        ddl=(
            DdlSpec(seq=350, kind="ADD_COLUMN", column="views", new_type="int"),
            DdlSpec(seq=360, kind="RENAME_COLUMN", column="views", new_name="view_count"),
        ),
        extras_cols=(("views", 350, "int"), ("view_count", 360, "int")),
    )
    ev = generate_events(spark, cfg).filter("op = 'DDL' OR event_seq NOT BETWEEN 351 AND 359")
    stage_events(ev, f"{tmpdir_}/staging")
    pipe = CdcPipeline(spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging",
                       n_buckets=4, merge_mode=mode)
    pipe.apply_epoch(_read_epoch(spark, f"{tmpdir_}/staging", 0), 0)
    out = pipe.apply_epoch(_read_epoch(spark, f"{tmpdir_}/staging", 1), 1)

    assert [m["epoch_key"] for m in out] == ["e1:s0", "e1:s1", "e1:s2"]
    assert out[1] == {"skipped": True, "empty": True, "epoch_key": "e1:s1"}
    assert out[0]["n_events"] > 0 and out[2]["n_events"] > 0
    assert_state_equal(pipe.table.read(), oracle_replay(ev.collect()))
