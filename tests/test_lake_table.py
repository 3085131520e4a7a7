"""Lake table format: snapshots, schema evolution, time travel.

Mirrors the reference's DDL golden tests (DDLFactoryTest.java:66-99 — feed
DDL, assert exact schema effect) at the Iceberg-analog layer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tapdata_connectors_spark.lake import LakeTable

FIELDS = [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
          ("text", "string"), ("lang", "string")]


def make(spark, tmpdir_, n_buckets=4):
    return LakeTable.create(spark, f"{tmpdir_}/t", FIELDS, key="url", n_buckets=n_buckets)


def test_create_and_empty_read(spark, tmpdir_):
    t = make(spark, tmpdir_)
    assert t.exists() and t.current_version() == 0
    df = t.read()
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [n for n, _ in FIELDS]


def test_write_and_read_roundtrip(spark, tmpdir_):
    t = make(spark, tmpdir_)
    src = spark.createDataFrame(
        [("u1", None, None, "hello", "en"), ("u2", None, None, "welt", "de")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).withColumn("_event_seq", F.lit(0).cast("long")) \
     .withColumn("_deleted", F.lit(False)) \
     .withColumn("_mb", t.bucket_expr("url"))
    entries = t.write_data_files(src, "_mb")
    assert entries and all(e["path"].startswith("data/") for e in entries)
    t.commit_files(entries)
    assert t.current_version() == 1
    got = {r["url"]: r["text"] for r in t.read().collect()}
    assert got == {"u1": "hello", "u2": "welt"}


def test_schema_evolution_add_rename_widen(spark, tmpdir_):
    t = make(spark, tmpdir_)
    src = spark.createDataFrame(
        [("u1", None, None, "x", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).withColumn("_event_seq", F.lit(0).cast("long")) \
     .withColumn("_deleted", F.lit(False)).withColumn("_mb", t.bucket_expr("url"))
    t.commit_files(t.write_data_files(src, "_mb"))

    t.add_column("views", "int")
    # old file reads as typed null
    assert t.read().collect()[0]["views"] is None
    assert {f.name: f.dataType.simpleString() for f in t.schema().fields}["views"] == "int"

    t.rename_column("views", "view_count")
    assert "view_count" in t.read().columns and "views" not in t.read().columns

    t.widen_column("view_count", "bigint")
    assert {f.name: f.dataType.simpleString() for f in t.schema().fields}["view_count"] == "bigint"
    assert t.read().collect()[0]["view_count"] is None

    with pytest.raises(ValueError):
        t.widen_column("view_count", "int")  # narrowing forbidden

    # rename of a populated column is metadata-only: data still readable
    t.rename_column("lang", "language")
    assert t.read().collect()[0]["language"] == "en"


def _urls_in_bucket(bucket, n_buckets, k):
    from tapdata_connectors_spark.functions.xxh import spark_xxhash64

    out, i = [], 0
    while len(out) < k:
        u = f"u{i}"
        i += 1
        if spark_xxhash64(u, "string") % n_buckets == bucket:
            out.append(u)
    return out


def _write_layout(spark, t, base_rows=(), delta_rows=()):
    """Commit base rows (url, views) and delta rows (url, op, seq, views)
    in the table's CURRENT physical layout; `views` is the current name of
    the column added by DDL (absent before the ADD)."""
    import datetime as dt

    from tapdata_connectors_spark.lake.delta import append_delta
    from tapdata_connectors_spark.operators.dedup import ColumnSpec

    m = t.manifest()
    extra = [f for f in m.fields if f.name not in dict(FIELDS)]
    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    ddl += "".join(f", {f.name} {f.type}" for f in extra)
    ts0, ts1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    if base_rows:
        src = spark.createDataFrame(
            [(u, ts0, None, f"t-{u}", "en", *([v] if extra else [])) for u, v in base_rows],
            ddl,
        ).withColumn("_event_seq", F.lit(1).cast("long")) \
         .withColumn("_deleted", F.lit(False)).withColumn("_mb", t.bucket_expr("url"))
        t.commit_files(t.write_data_files(src, "_mb"))
    if delta_rows:
        payload = [ColumnSpec(f.name, f.type) for f in m.fields if f.name != m.key]
        df = spark.createDataFrame(
            [(u, ts1, None, f"d-{u}", "de", *([v] if extra else []), op, seq)
             for u, op, seq, v in delta_rows],
            ddl + ", _final_op string, _final_seq bigint",
        )
        is_insert = F.col("_final_op") == "I"
        df = df.select(
            "*", F.col("warc_ts").alias("_final_ts"),
            F.lit(None).cast("bigint").alias("_del_seq"),
            F.lit(None).cast("timestamp").alias("_del_ts"),
            t.bucket_expr("url").alias("_mb"),
            # an insert sets every column, an update only the added one
            *[(is_insert | F.lit(c.name not in dict(FIELDS))).alias(f"__set_{c.name}")
              for c in payload],
        )
        append_delta(t, df, payload)


def test_reads_span_add_default_rename_widen_layouts(spark, tmpdir_):
    # files written across ADD (with default), RENAME and WIDEN int->bigint
    # read back through the physical schema each manifest entry records:
    # bucket 0 holds base files only, bucket 1 the same layouts plus
    # pending deltas (one per layout, including a pre-ADD insert)
    t = make(spark, tmpdir_, n_buckets=2)
    a, b = _urls_in_bucket(0, 2, 4), _urls_in_bucket(1, 2, 5)
    big = 2**40
    _write_layout(spark, t, [(a[0], None), (b[0], None)],
                  [(b[4], "I", 10, None)])
    t.add_column("views", "int", default="7")
    _write_layout(spark, t, [(a[1], 5), (b[1], 5)], [(b[0], "U", 11, 11)])
    t.rename_column("views", "view_count")
    _write_layout(spark, t, [(a[2], 6), (b[2], 6)], [(b[1], "U", 12, 12)])
    t.widen_column("view_count", "bigint")
    _write_layout(spark, t, [(a[3], big), (b[3], big)], [(b[2], "U", 13, 2 * big)])
    assert t.delta_file_counts() == {1: 4}

    views = {a[0]: 7, a[1]: 5, a[2]: 6, a[3]: big,
             b[0]: 11, b[1]: 12, b[2]: 2 * big, b[3]: big, b[4]: 7}
    expect = {u: (v, f"d-{u}" if u == b[4] else f"t-{u}") for u, v in views.items()}

    tracker = spark.sparkContext.statusTracker()
    jobs0 = set(tracker.getJobIdsForGroup(None))
    df = t.read()  # plan only: the scans must not infer a schema
    assert set(tracker.getJobIdsForGroup(None)) == jobs0
    assert df.schema["view_count"].dataType.simpleString() == "bigint"

    def state(frame):
        return {r["url"]: (r["view_count"], r["text"]) for r in frame.collect()}

    assert state(df) == expect
    for bucket, urls in ((0, a), (1, b)):
        assert state(t.read_raw(buckets=[bucket])) == {u: expect[u] for u in urls}
    t.compact()
    assert not t.delta_file_counts()
    assert state(t.read()) == expect


def test_reads_entries_that_record_declared_types(spark, tmpdir_, monkeypatch):
    # entries written by earlier versions carry no `types_written` stamp
    # and record each column's DECLARED type: append_delta declared every
    # derived column "string", though simhash is written bigint and
    # minhash_sig array<bigint>. Such a table must still read, resolve its
    # pending deltas and compact.
    from tapdata_connectors_spark.operators import corpus
    from tapdata_connectors_spark.sources.generator import (
        GeneratorConfig, generate_events, stage_events)
    from tapdata_connectors_spark.streaming.driver import CdcPipeline
    from tests.helpers import assert_state_equal, oracle_replay

    derived = ("simhash", "minhash_sig")
    real_write = LakeTable.write_data_files

    def write_declared(self, df, bucket_col, kind="base", **kw):
        entries = real_write(self, df, bucket_col, kind=kind, **kw)
        declared = {str(f.id): "string" if kind == "delta" and f.name in derived
                    else f.type for f in self.manifest().fields}
        declared.update({"-1": "bigint", "-2": "boolean"})
        for e in entries:
            e.pop("types_written", None)
            e["types"] = {i: declared[i] for i in e["columns"] if i in declared}
        return entries

    cfg = GeneratorConfig(n_events=600, n_urls=80, epoch_size=200,
                          p_update=0.4, p_delete=0.1)
    ev = generate_events(spark, cfg)
    stage_events(ev, f"{tmpdir_}/staging")
    pipe = CdcPipeline(spark, f"{tmpdir_}/pages", f"{tmpdir_}/staging",
                       n_buckets=4, merge_mode="mor", enrich=list(derived))
    monkeypatch.setattr(LakeTable, "write_data_files", write_declared)
    pipe.replay_batch()
    monkeypatch.undo()
    t = pipe.table
    ids = {str(f.id) for f in t.manifest().fields if f.name in derived}
    deltas = [e for e in t.manifest().files if e.get("kind") == "delta"]
    assert deltas and all(e["types"][i] == "string" for e in deltas for i in ids)

    oracle = oracle_replay(ev.collect())

    def check(frame):
        assert_state_equal(frame.drop(*derived), oracle)
        bad = frame.filter(
            (F.col("simhash") != corpus.simhash_col(F.col("text")))
            | (F.col("minhash_sig") != corpus.minhash_sig_col(F.col("text")))
            | (F.col("text").isNotNull() & F.col("simhash").isNull())
        ).count()
        assert bad == 0
        assert frame.filter(F.col("minhash_sig").isNotNull()).count() > 0

    check(t.read())
    url = oracle.final_rows()[0]["url"]
    assert [r["url"] for r in t.lookup(url).collect()] == [url]
    t.compact()
    assert not t.delta_file_counts()
    check(t.read())


def test_time_travel(spark, tmpdir_):
    t = make(spark, tmpdir_)
    v0 = t.current_version()
    t.add_column("extra", "string")
    assert "extra" in t.read().columns
    assert "extra" not in t.read(version=v0).columns


def test_ddl_idempotence_guard(spark, tmpdir_):
    t = make(spark, tmpdir_)
    t.add_column("c1", "int", epoch_key="e0:ddl5")
    v = t.current_version()
    t.add_column("c1", "int", epoch_key="e0:ddl5")  # replayed: no-op
    assert t.current_version() == v


def test_ddl_guards_engine_columns(spark, tmpdir_):
    # merge key and the LWW ordering column are engine-critical: renames
    # or drops would break bucket_expr / merge ordering / the redelivery
    # stale-guard — the table must reject them loudly (ADVICE r1)
    t = make(spark, tmpdir_)
    with pytest.raises(ValueError, match="merge key"):
        t.rename_column("url", "page_url")
    with pytest.raises(ValueError, match="merge key"):
        t.drop_column("url")
    with pytest.raises(ValueError, match="ordering column"):
        t.rename_column("warc_ts", "version_ts")
    with pytest.raises(ValueError, match="ordering column"):
        t.drop_column("warc_ts")
    # non-critical columns still evolve freely
    t.rename_column("lang", "language")
    t.drop_column("language")
    assert "language" not in [f.name for f in t.schema().fields]


# ---------------------------------------------------------------------------
# vacuum (snapshot expiry + dead-file GC)
# ---------------------------------------------------------------------------

def _commit_rows(spark, t, rows, replaced_buckets=None):
    src = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).withColumn("_event_seq", F.lit(0).cast("long")) \
     .withColumn("_deleted", F.lit(False)).withColumn("_mb", t.bucket_expr("url"))
    return t.commit_files(t.write_data_files(src, "_mb"),
                          replaced_buckets=replaced_buckets)


def _data_files_on_disk(t):
    import posixpath
    return set(t._io.glob_files(
        posixpath.join(t._io.join("data"), "c*", "__bucket=*", "*.parquet")))


def test_vacuum_deletes_dead_files_keeps_reads_identical(spark, tmpdir_):
    t = make(spark, tmpdir_)
    # three COW rewrites of the same key -> two fully-dead commit dirs
    for i in range(3):
        _commit_rows(spark, t, [("u1", None, None, f"v{i}", "en")],
                     replaced_buckets=set(range(4)))
    head = t.current_version()
    before = {r["url"]: r["text"] for r in t.read().collect()}
    n_disk = len(_data_files_on_disk(t))
    assert len({f["path"] for f in t.manifest().files}) < n_disk

    rep = t.vacuum(retain_last=1, min_age_sec=0)
    assert rep["deleted_files"] >= 2 and rep["retained_versions"] == [head]
    # live state unchanged; disk now holds exactly the referenced set
    assert {r["url"]: r["text"] for r in t.read().collect()} == before
    import posixpath
    left = {posixpath.join("data", *p.split("/")[-3:])
            for p in _data_files_on_disk(t)}
    assert left == {f["path"] for f in t.manifest().files}
    # expired manifests are gone: old time travel raises, head still reads
    with pytest.raises(FileNotFoundError):
        t.manifest(head - 1)
    assert t.read(version=head).count() == 1
    # second vacuum is a no-op
    rep2 = t.vacuum(retain_last=1, min_age_sec=0)
    assert rep2["deleted_files"] == 0 and rep2["deleted_manifests"] == 0


def test_vacuum_retention_window_preserves_time_travel(spark, tmpdir_):
    t = make(spark, tmpdir_)
    for i in range(3):
        _commit_rows(spark, t, [(f"u{i}", None, None, f"t{i}", "en")])
    head = t.current_version()
    t.vacuum(retain_last=2, min_age_sec=0)
    # head-1 retained and readable; nothing it references was deleted
    assert t.read(version=head - 1).count() == 2
    with pytest.raises(FileNotFoundError):
        t.manifest(head - 2)


def test_vacuum_min_age_protects_inflight_writer(spark, tmpdir_):
    t = make(spark, tmpdir_)
    _commit_rows(spark, t, [("u1", None, None, "x", "en")])
    # simulate write_data_files landed but commit_files not yet run
    src = spark.createDataFrame(
        [("u2", None, None, "pending", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).withColumn("_event_seq", F.lit(0).cast("long")) \
     .withColumn("_deleted", F.lit(False)).withColumn("_mb", t.bucket_expr("url"))
    pending = t.write_data_files(src, "_mb")
    rep = t.vacuum(retain_last=1, min_age_sec=3600)
    assert rep["deleted_files"] == 0 and rep["skipped_recent"] >= 1
    # the in-flight commit still completes and reads back
    t.commit_files(pending)
    assert {r["url"] for r in t.read().collect()} == {"u1", "u2"}


def test_vacuum_retain_last_validation(spark, tmpdir_):
    t = make(spark, tmpdir_)
    with pytest.raises(ValueError):
        t.vacuum(retain_last=0)
