"""End-to-end CDC ingest pipeline: staged events → lake table state.

The Spark re-expression of the reference's engine↔connector replication loop
(SURVEY.md §3): snapshot load (`batchRead`, CommonDbConnector.java:579-606),
change-stream consumption (`streamRead`/consumeRecords, MysqlReader.java:
223-401,501-531) and target apply (`writeRecord`, MysqlConnector.java:
475-508) become:

    readStream/read on the epoch-partitioned staging area
      → per epoch: DDL-barrier split (schema evolution applied in source
        order BEFORE any later DML — the north rule's ordering requirement)
      → last-writer-wins fold (one shuffle)
      → HTML→text Arrow UDF on actually-changed rows only
      → copy-on-write MERGE with bucket pruning + idempotence guard
      → lineage row (offset range, event counts, merge stats)

Exactly-once: Structured Streaming checkpoints give at-least-once epoch
delivery; the manifest's applied_epochs guard + the deterministic fold make
re-delivery a no-op, so the end-to-end effect is exactly-once (the
reference's offset-commit + exactlyOnceId protocol, SURVEY.md §2.11).
Kill the job after epoch k, restart, and the final state is identical
(fixture F11).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from tapdata_connectors_spark.functions.text_extract import extract_text_udf
from tapdata_connectors_spark.lake.fs import make_fs
from tapdata_connectors_spark.lake.merge import merge_into
from tapdata_connectors_spark.lake.table import CommitConflict, LakeTable
from tapdata_connectors_spark.operators.dedup import ColumnSpec, lww_fold
from tapdata_connectors_spark.operators.events import normalize_events
from tapdata_connectors_spark.plans.policies import DEFAULT_POLICY, WritePolicy
from tapdata_connectors_spark.schema import (
    EVENTS_SCHEMA,
    LINEAGE_SCHEMA,
    PAGES_FIELDS,
    SEQ_COL,
)

# image-struct physical fields by field id at CREATE time (renames of these
# logical columns keep resolving into the fixed staging struct)
_BASE_IMAGE_REFS = {"warc_ts": "warc_ts", "html": "html", "lang": "lang"}
_DERIVED = {"text": "html"}  # text is derived from html, never folded
_TEXT_FIELD_ID = 4  # PAGES_FIELDS position of `text` (1-based field id)

# ingest-time enrichment columns (LLM-data ops promoted into the engine):
# each derives from the extracted text via a CHAINED DerivedSpec — computed
# inside the same merge/delta projection, only for rows whose text actually
# changed, with zero extra passes over the table (operators/corpus.py)
ENRICHMENTS: dict[str, object] = {}


def _enrich_fingerprint(c):
    from tapdata_connectors_spark.operators import corpus

    return corpus.fingerprint(c)


def _enrich_pred_lang(c):
    from tapdata_connectors_spark.operators import corpus

    return corpus.lang_id_col(c)


def _enrich_quality_keep(c):
    from tapdata_connectors_spark.operators import corpus

    return corpus.quality_keep_col(c)


def _enrich_simhash(c):
    from tapdata_connectors_spark.operators import corpus

    return corpus.simhash_col(c)


def _enrich_minhash_sig(c):
    from tapdata_connectors_spark.operators import corpus

    return corpus.minhash_sig_col(c)


def _enrich_embed_bucket(c):
    # LSH bucket of the text embedding (operators/ann.hyperplane_bucket
    # over the deterministic hashed projection — swap text_embed_col for
    # a model embedding at deployment; the bucket math is unchanged)
    from tapdata_connectors_spark.operators import ann, corpus

    # dim=8 == text_embed_col's default width: the enrichment takes a
    # bare Column (nothing to probe), so the literal-weights fast path
    # is keyed off the known embedding dimension
    return ann.hyperplane_bucket(
        ann.scaled_vec(corpus.text_embed_col(c)), n_planes=4, dim=8
    )


# name -> (column builder over the extracted text, stored column type)
ENRICHMENTS = {
    "fingerprint": (_enrich_fingerprint, "string"),
    "pred_lang": (_enrich_pred_lang, "string"),
    "quality_keep": (_enrich_quality_keep, "boolean"),
    "simhash": (_enrich_simhash, "bigint"),
    "minhash_sig": (_enrich_minhash_sig, "array<bigint>"),
    "embed_bucket": (_enrich_embed_bucket, "bigint"),
}


def _release_fold_caches(caches: list) -> None:
    """Unpersist every frame lww_fold registered (see its cache_registry
    contract) once the consuming action has completed."""
    for f in caches:
        f.unpersist()


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        staging_path: str,
        lineage_path: str | None = None,
        policy: WritePolicy = DEFAULT_POLICY,
        n_buckets: int = 16,
        merge_mode: str = "cow",
        compact_every: int = 8,
        seq_is_lww_order: bool = True,
        enrich: list[str] | None = None,
        fold_broadcast: bool = False,
    ):
        """merge_mode:
        'cow'  — copy-on-write MERGE per epoch (lake/merge.py): epoch cost ∝
                 touched table data; supports every write policy.
        'mor'  — merge-on-read delta append (lake/delta.py): epoch cost ∝
                 batch; deferred merge resolved on read, compacted when a
                 bucket accumulates `compact_every` delta files. Default
                 policy only. This is the 10^10-event scale path.

        seq_is_lww_order: the staging contract flag (operators/ordering.py)
        — True (default) when `warc_ts` is non-decreasing in `event_seq`
        (binlog-shaped sources; the generator guarantees it; external
        adapters validate it). False switches fold + MOR resolution to the
        exact (ts, seq)-ordered single-aggregation paths.

        fold_broadcast: phase B of the fold fetches payload values via
        map-side broadcast joins instead of shuffled-hash joins (payload
        bytes cross one exchange per epoch instead of two — see
        operators/dedup.lww_fold). Enable when distinct keys per
        trigger fit driver memory; default False (the 10^10-scale
        shuffle path).
        """
        if merge_mode not in ("cow", "mor"):
            raise ValueError(merge_mode)
        if merge_mode == "mor" and policy != DEFAULT_POLICY:
            raise ValueError("merge_mode='mor' supports the default write policy only")
        if merge_mode == "mor" and not seq_is_lww_order:
            # MOR resolution is a global order-algebraic fold — with a
            # non-monotone source, final state legitimately depends on
            # arrival (epoch) boundaries (an applied update blocks an
            # older-ts delete arriving later), which only the incremental
            # per-epoch merge can reproduce. Refuse loudly rather than be
            # silently wrong at read time.
            raise ValueError(
                "merge_mode='mor' requires the staging order contract "
                "(seq_is_lww_order=True); use merge_mode='cow' for "
                "non-monotone sources"
            )
        self.spark = spark
        self.table_path = table_path
        self.staging_path = staging_path
        self.lineage_path = lineage_path or os.path.join(table_path, "_lineage")
        self.policy = policy
        self.n_buckets = n_buckets
        self.merge_mode = merge_mode
        self.compact_every = compact_every
        self.seq_is_lww_order = seq_is_lww_order
        self.fold_broadcast = fold_broadcast
        # ingest-time enrichment: extra string columns derived from the
        # extracted text (ENRICHMENTS registry). Must be passed identically
        # when re-attaching to an existing enriched table — field ids are
        # assigned at create in list order, directly after PAGES_FIELDS.
        self.enrich = list(enrich or [])
        for name in self.enrich:
            if name not in ENRICHMENTS:
                raise ValueError(f"unknown enrichment {name!r}; known: {sorted(ENRICHMENTS)}")
        self._enrich_ids = {
            len(PAGES_FIELDS) + 1 + i: name for i, name in enumerate(self.enrich)
        }
        self.table = LakeTable(spark, table_path)
        self._lineage_io = make_fs(spark, self.lineage_path)
        self._lineage_rows: list[tuple] = []
        self._start_epoch: int | None = None

    # ------------------------------------------------------------------
    def init_table(self) -> LakeTable:
        if not self.table.exists():
            try:
                self.table = LakeTable.create(
                    self.spark,
                    self.table_path,
                    fields=[(n, t.simpleString()) for n, t, _ in PAGES_FIELDS]
                    + [(n, ENRICHMENTS[n][1]) for n in self.enrich],
                    key="url",
                    n_buckets=self.n_buckets,
                )
            except (FileExistsError, CommitConflict):
                # lost a create race with a concurrent thread/process — the
                # table now exists, which is all this method guarantees
                pass
        return self.table

    def payload_specs(self) -> list[ColumnSpec]:
        """Current-schema fold specs: base image columns resolve by field id
        into the fixed staging struct; DDL-added columns come from extras."""
        m = self.table.manifest()
        id_to_base = {}  # field id -> staging struct field
        for i, (n, _t, _nul) in enumerate(PAGES_FIELDS):
            if n in _BASE_IMAGE_REFS:
                id_to_base[i + 1] = _BASE_IMAGE_REFS[n]
        specs: list[ColumnSpec] = []
        for f in m.fields:
            if f.name == m.key or f.name in _DERIVED:
                continue
            if f.id in id_to_base:
                specs.append(ColumnSpec(f.name, f.type, "image", id_to_base[f.id]))
            elif f.id <= len(PAGES_FIELDS) or f.id in self._enrich_ids:
                continue  # a renamed derived/enrichment/key col — not foldable
            else:
                specs.append(ColumnSpec(f.name, f.type, "extras"))
        return specs

    def _derived_specs(self):
        m = self.table.manifest()
        names = {f.name for f in m.fields}
        out = []
        # html is field id 3 (PAGES_FIELDS order); the derived spec resolves
        # it by id so a RENAME keeps working. If html was DROPped there is no
        # source to extract from — text keeps its last stored values.
        src = self._current_name_of(3)
        if "text" in names and src is not None:
            out.append(("text", src, lambda c: extract_text_udf(c)))
            # chained enrichment specs, in dependency order after text
            text_name = self._current_name_of(_TEXT_FIELD_ID)
            for fid, ename in self._enrich_ids.items():
                cur = self._current_name_of(fid)
                if cur is not None and text_name is not None:
                    out.append((cur, text_name, ENRICHMENTS[ename][0]))
        return out

    def _current_name_of(self, field_id: int) -> str | None:
        for f in self.table.manifest().fields:
            if f.id == field_id:
                return f.name
        return None

    # ------------------------------------------------------------------
    def bootstrap_snapshot(self, pages: DataFrame, derive_text: bool = True) -> dict:
        """Initial full-table snapshot load (the reference's batchRead path,
        SURVEY.md §3.1): one distributed write, no merge needed."""
        t = self.init_table()
        df = pages
        if derive_text and "text" not in df.columns:
            df = df.withColumn("text", extract_text_udf(F.col("html")))
        for fid, ename in self._enrich_ids.items():
            name = self._current_name_of(fid) or ename
            if name not in df.columns:
                df = df.withColumn(
                    name,
                    ENRICHMENTS[ename][0](F.col("text")) if "text" in df.columns
                    else F.lit(None).cast(ENRICHMENTS[ename][1]),
                )
        df = (
            df.withColumn(SEQ_COL, F.lit(-1).cast("long"))
            .withColumn("_deleted", F.lit(False))
            .withColumn("_mb", t.bucket_expr("url"))
        )
        entries = t.write_data_files(df, "_mb")
        v = t.commit_files(entries, summary={"op": "bootstrap"})
        return {"version": v}

    # ------------------------------------------------------------------
    def apply_epoch(
        self, events: DataFrame, epoch: int, key_prefix: str = "",
        has_ddl: bool | None = None,
    ) -> list[dict]:
        """Apply one epoch: split at DDL barriers, evolve schema in source
        order, fold+merge each DML slice. Idempotent per (key_prefix, epoch,
        slice).

        key_prefix scopes the idempotence guard to the delivery unit. Batch
        replay delivers whole epochs, so the default "" (one guard per
        epoch) is right. The streaming path delivers micro-batches that may
        contain PARTIAL epochs (maxFilesPerTrigger cuts anywhere), so it
        passes the foreachBatch batch_id — Structured Streaming guarantees
        a retried batch_id carries identical data, which is exactly the
        redelivery the guard must neutralize, while a later batch with the
        rest of the same epoch gets a fresh key and is applied.

        Empty slices: the one aggregation that collects the DDL rows also
        returns the lowest and highest DML seq. A slice's index is the
        number of barriers strictly below the event's seq; an event whose
        seq equals a barrier's belongs to no slice (the strict bounds of
        _apply_dml_slice). A slice those bounds prove empty (it lies
        outside the DML seq range, or sits between barriers at adjacent
        seqs) returns {"skipped": True, "empty": True, "epoch_key": ...}
        without building its fold and records no guard key. Any other
        slice is folded; a fold that finds no event returns the same
        entry. The returned list always has one entry per slice."""
        self.init_table()
        # the staging marker records whether this epoch carries DDL at all
        # (stage_events computes it once); a False hint skips a whole
        # scan-job per epoch on the hot path
        ddl_rows, dml_lo, dml_hi = [], None, None
        if has_ddl is not False:
            ddl_rows, dml_lo, dml_hi = self._barriers(events)
        # slice boundaries: (-inf, ddl1), [ddl1] , (ddl1, ddl2), ... (ddlN, +inf)
        metrics_all: list[dict] = []
        bounds = [r["event_seq"] for r in ddl_rows]
        dml = events.filter(F.col("op") != "DDL")
        lo = None
        for i, hi in enumerate(bounds + [None]):
            if has_ddl is False or self._may_hold_dml(lo, hi, dml_lo, dml_hi):
                metrics_all.append(
                    self._apply_dml_slice(dml, epoch, i, lo, hi, key_prefix)
                )
            else:
                metrics_all.append({"skipped": True, "empty": True,
                                    "epoch_key": f"{key_prefix}e{epoch}:s{i}"})
            if hi is not None:
                self._apply_ddl(ddl_rows[i], epoch_key=f"e{epoch}:ddl{hi}")
            lo = hi
        return metrics_all

    @staticmethod
    def _barriers(events: DataFrame) -> tuple[list, int | None, int | None]:
        """ONE aggregation over the epoch: its DDL rows (event_seq plus
        the ddl fields) in seq order, and the lowest and highest DML seq
        (None when the epoch holds no DML event)."""
        seq, is_ddl = F.col("event_seq"), F.col("op") == "DDL"
        ddl = F.struct(seq, *[F.col(f"ddl.{n}").alias(n)
                              for n in events.schema["ddl"].dataType.names])
        row = events.agg(
            F.collect_list(F.when(is_ddl, ddl)).alias("ddl"),
            F.min(F.when(~is_ddl, seq)).alias("lo"),
            F.max(F.when(~is_ddl, seq)).alias("hi"),
        ).collect()[0]
        return sorted(row["ddl"], key=lambda r: r["event_seq"]), row["lo"], row["hi"]

    @staticmethod
    def _may_hold_dml(lo, hi, dml_lo, dml_hi) -> bool:
        """False when no DML seq can lie strictly inside (lo, hi): the
        epoch has no DML, the slice is outside [dml_lo, dml_hi], or its
        barriers sit at adjacent seqs."""
        if dml_lo is None:
            return False
        if lo is not None and dml_hi <= lo:
            return False
        if hi is not None and dml_lo >= hi:
            return False
        return lo is None or hi is None or hi - lo > 1

    def apply_epoch_chunk(self, epochs: list[int]) -> list[dict]:
        """Apply a run of DDL-free epochs as ONE Spark job (MOR + default
        policy only). The LWW fold is associative across epoch boundaries —
        fold(union of k epochs) equals k sequential per-epoch applies (the
        replay-equality contract the scenario tests assert against the
        sequential oracle) — so a chunk pays the per-job fixed costs
        (Catalyst analysis of the fold plan, job scheduling, manifest
        commit, lineage buffering) ONCE instead of k times. At 10^10-event
        scale this is the trigger-batch shape: one Spark job per trigger,
        however many source epochs the trigger covers (the reference's
        TapEventCollector batches uploads the same way).

        Idempotence: every member epoch's guard key rides the single
        atomic manifest commit (all-or-nothing with the data files);
        members already applied by an earlier per-epoch or chunked run are
        filtered out before the read, so mixed resumes are safe.

        Lineage attribution: a chunk is ONE delivery unit, so it emits one
        lineage row set stamped with the chunk's FIRST member epoch; the
        row's lo/hi offsets span the whole chunk (per-epoch offset ranges
        collapse into the chunk range — by design, matching the
        one-trigger-one-lineage-row shape at 10^10 scale). The returned
        metrics carry `epoch_key` as the stable string "e<lo>-e<hi>:chunk"
        plus the member list under `chunk_epochs`."""
        if self.merge_mode != "mor" or self.policy != DEFAULT_POLICY:
            raise ValueError("apply_epoch_chunk requires merge_mode='mor' "
                             "and the default write policy")
        self.init_table()
        todo = [e for e in epochs if not self.table.epoch_applied(f"e{e}:s0")]
        if not todo:
            return [{"skipped": True, "epoch_key": f"e{e}:s0"} for e in epochs]
        paths = [os.path.join(self.staging_path, f"epoch={e}") for e in todo]
        df = self.spark.read.schema(EVENTS_SCHEMA).parquet(*paths)
        sl = normalize_events(df.filter(F.col("op") != "DDL"))
        keys = [f"e{e}:s0" for e in todo]
        m = self._apply_slice_mor(sl, todo[0], 0, keys, self.payload_specs(),
                                  time.time())
        m["epoch_key"] = f"e{todo[0]}-e{todo[-1]}:chunk"
        m["chunk_epochs"] = todo
        return [m]

    def _bucket_or_null_sentinel(self) -> F.Column:
        """Merge-bucket id, with null-PK rows diverted to sentinel bucket -2
        (xxhash64(null) is the SEED, so nulls would otherwise silently land
        in a real bucket and merge as a key)."""
        return (
            F.when(F.col("url").isNull(), F.lit(-2))
            .otherwise(self.table.bucket_expr("url"))
            .cast("int")
        )

    def _apply_ddl(self, ddl, epoch_key: str) -> None:
        d = ddl.asDict() if hasattr(ddl, "asDict") else dict(ddl)
        kind = d["kind"]
        if kind == "ADD_COLUMN":
            self.table.add_column(
                d["column"], d["new_type"], epoch_key=epoch_key,
                default=d.get("new_default"),
                not_null=bool(d.get("not_null")),
                comment=d.get("comment"),
            )
        elif kind == "RENAME_COLUMN":
            self.table.rename_column(ddl["column"], ddl["new_name"], epoch_key=epoch_key)
        elif kind == "TYPE_WIDEN":
            # carries the reference's TapAlterFieldAttributesEvent bundle:
            # nullability/default/comment ride along with the type change
            self.table.widen_column(
                ddl["column"], ddl["new_type"], epoch_key=epoch_key,
                default=d.get("new_default"), not_null=d.get("not_null"),
                comment=d.get("comment"),
            )
        elif kind == "DROP_COLUMN":
            self.table.drop_column(ddl["column"], epoch_key=epoch_key)
        else:
            # TapDDLUnknownEvent analog (MysqlReader.java:722-731): surface it
            raise ValueError(f"unknown DDL kind: {kind}")

    def _apply_dml_slice(
        self, dml: DataFrame, epoch: int, slice_no: int, lo: int | None,
        hi: int | None, key_prefix: str = "",
    ) -> dict:
        t0 = time.time()
        sl = dml
        if lo is not None:
            sl = sl.filter(F.col("event_seq") > lo)
        if hi is not None:
            sl = sl.filter(F.col("event_seq") < hi)
        # PK resolution + update-of-PK split (delete old key / insert new):
        # map-only, before any fold groups by key (operators/events.py)
        sl = normalize_events(sl)

        epoch_key = f"{key_prefix}e{epoch}:s{slice_no}"
        if self.table.epoch_applied(epoch_key):
            return {"skipped": True, "epoch_key": epoch_key}

        payload = self.payload_specs()

        if self.policy != DEFAULT_POLICY:
            # position-dependent policies (INSERT IGNORE & friends) need the
            # sequential-faithful resolver over raw events — the per-key
            # fold cannot see "alive at this point in the batch"
            return self._apply_slice_sequential(sl, epoch, slice_no, epoch_key, payload, t0)

        if not self.seq_is_lww_order and self.merge_mode == "cow":
            # non-monotone sources: a batch's events can STRADDLE the
            # target's stored (ts, seq) order (some stale, some newer), and
            # fold-then-guard is not sequential-equivalent there — e.g. a
            # stale insert must be rejected individually while the batch's
            # newer updates hit a missing row and drop. The sequential
            # resolver replays raw events against the target row at its own
            # order, which is exact for any interleaving.
            return self._apply_slice_sequential(sl, epoch, slice_no, epoch_key, payload, t0)

        if self.merge_mode == "mor":
            # single-action fast path: stats ride along the delta write via
            # observe(); no persist, no separate aggregation job
            return self._apply_slice_mor(sl, epoch, slice_no, epoch_key, payload, t0)

        fold_caches: list = []
        deduped = (
            lww_fold(sl, payload, key="url", seq_is_lww_order=self.seq_is_lww_order,
                     broadcast_winners=self.fold_broadcast,
                     cache_registry=fold_caches)
            # null-PK rows group under the sentinel bucket -2: counted in
            # lineage (partition_id -2), never merged
            # (NormalWriteRecorder.java:210-226 skips-and-warns)
            .withColumn("_mb", self._bucket_or_null_sentinel())
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # ONE aggregation job yields everything the driver needs before the
        # merge: per-bucket lineage inputs, touched-bucket set, batch rows
        # (the fold emits exactly one row per key, so sum(n_keys) = |batch|).
        per_bucket = deduped.groupBy("_mb").agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("_n_events").alias("n_events"),
            F.sum("_n_i").alias("n_i"),
            F.sum("_n_u").alias("n_u"),
            F.sum("_n_d").alias("n_d"),
            F.sum("_n_dupes_approx").alias("n_dupes"),
            F.min("_min_seq").alias("lo"),
            F.max("_final_seq").alias("hi"),
            F.sum((F.col("_final_op") == "I").cast("long")).alias("fo_i"),
            F.sum((F.col("_final_op") == "U").cast("long")).alias("fo_u"),
            F.sum((F.col("_final_op") == "D").cast("long")).alias("fo_d"),
            F.sum(F.length(F.col("url"))).alias("key_bytes"),
        ).collect()

        if not per_bucket:
            deduped.unpersist()
            _release_fold_caches(fold_caches)
            return {"skipped": True, "empty": True, "epoch_key": epoch_key}
        touched = {r["_mb"] for r in per_bucket if r["_mb"] >= 0}
        b_rows = sum(r["n_keys"] for r in per_bucket if r["_mb"] >= 0)
        n_events = sum(r["n_events"] for r in per_bucket)

        if not touched:  # every event in the slice had a null PK
            deduped.unpersist()
            _release_fold_caches(fold_caches)
            wall_ms = int((time.time() - t0) * 1000)
            self._write_lineage(epoch, slice_no, per_bucket, {}, wall_ms)
            return {"skipped": True, "all_null_pk": True, "epoch_key": epoch_key,
                    "n_events": n_events, "wall_ms": wall_ms}

        m = merge_into(
            self.table,
            deduped.filter(F.col("_mb") >= 0),
            payload,
            policy=self.policy,
            derived=self._derived_specs(),
            epoch_key=epoch_key,
            b_rows=b_rows,
            touched=touched,
            b_key_bytes=sum(
                r["key_bytes"] or 0 for r in per_bucket if r["_mb"] >= 0
            ),
        )
        deduped.unpersist()
        _release_fold_caches(fold_caches)
        wall_ms = int((time.time() - t0) * 1000)
        self._write_lineage(epoch, slice_no, per_bucket, m, wall_ms)
        return {**m, "epoch_key": epoch_key, "n_events": n_events, "wall_ms": wall_ms}

    def _apply_slice_mor(self, sl, epoch, slice_no, epoch_key, payload, t0) -> dict:
        """MOR hot path: exactly ONE Spark action per slice. The fold is
        computed inside the delta-write job; global lineage stats ride
        along via observe() (CollectMetrics — no second pass, no persist);
        per-bucket row counts come from the written parquet footers
        (driver-side metadata reads, no job)."""
        from pyspark.sql import Observation

        from tapdata_connectors_spark.lake.delta import append_delta

        fold_caches: list = []
        deduped = lww_fold(
            sl, payload, key="url", broadcast_winners=self.fold_broadcast,
            cache_registry=fold_caches,
        ).withColumn("_mb", self._bucket_or_null_sentinel())
        obs = Observation()
        ok = F.col("url").isNotNull()  # null-PK keys are counted, never written

        def _n(col):  # null-PK-excluded sum
            return F.coalesce(F.sum(F.when(ok, F.col(col))), F.lit(0))

        observed = deduped.observe(
            obs,
            F.coalesce(F.sum(ok.cast("long")), F.lit(0)).alias("n_keys"),
            _n("_n_events").alias("n_events"),
            _n("_n_i").alias("n_i"),
            _n("_n_u").alias("n_u"),
            _n("_n_d").alias("n_d"),
            _n("_n_dupes_approx").alias("n_dupes"),
            F.min(F.when(ok, F.col("_min_seq"))).alias("lo"),
            F.max(F.when(ok, F.col("_final_seq"))).alias("hi"),
            F.coalesce(F.sum((ok & (F.col("_final_op") == "I")).cast("long")), F.lit(0)).alias("fo_i"),
            # DU normalizes to a delete in append_delta — count it under fo_d
            # so lineage matches what actually lands in the delta files
            F.coalesce(F.sum((ok & (F.col("_final_op") == "U")).cast("long")), F.lit(0)).alias("fo_u"),
            F.coalesce(F.sum((ok & F.col("_final_op").isin("D", "DU")).cast("long")), F.lit(0)).alias("fo_d"),
            F.coalesce(F.sum(F.when(~ok, F.col("_n_events"))), F.lit(0)).alias("n_null_pk"),
        )
        try:
            m = append_delta(
                self.table, observed.filter(F.col("_mb") >= 0), payload,
                derived=self._derived_specs(), epoch_key=epoch_key,
            )
        finally:
            # the fold's winner-frame cache only serves the single write
            # action above; release it so a long-lived stream or many-chunk
            # replay does not accumulate cached winner frames
            for f in fold_caches:
                f.unpersist()
        if m.get("skipped"):
            # epoch guard fired inside append_delta: no Spark action ran, so
            # obs.get would block forever — skip stats/lineage entirely
            wall_ms = int((time.time() - t0) * 1000)
            return {**m, "epoch_key": epoch_key, "n_events": 0, "wall_ms": wall_ms}
        if obs._jo.getRow().schema() is None:
            # no metrics row: Spark drops the CollectMetrics node of a plan
            # it proves empty (an empty DDL-bounded slice), and obs.get
            # cannot convert the empty row
            return {"skipped": True, "empty": True, "epoch_key": epoch_key}
        stats = obs.get
        n_events = stats["n_events"]
        if n_events or stats["n_null_pk"]:
            per_bucket = [
                {
                    "_mb": e["bucket"], "n_keys": e.get("rows"), "n_events": None,
                    "n_i": None, "n_u": None, "n_d": None, "n_dupes": None,
                    "lo": stats["lo"], "hi": stats["hi"],
                }
                for e in m.get("entries", [])
            ]
            m["by_bucket"] = {}
            wall_ms = int((time.time() - t0) * 1000)
            global_row = {
                "_mb": -1, "n_keys": stats["n_keys"], "n_events": n_events,
                "n_i": stats["n_i"], "n_u": stats["n_u"], "n_d": stats["n_d"],
                "n_dupes": stats["n_dupes"], "lo": stats["lo"], "hi": stats["hi"],
            }
            rows = [global_row]
            if stats["n_null_pk"]:
                # partition -2 = null-PK events skipped-with-count
                rows.append({
                    "_mb": -2, "n_keys": 0, "n_events": stats["n_null_pk"],
                    "n_i": None, "n_u": None, "n_d": None, "n_dupes": None,
                    "lo": None, "hi": None,
                })
            mm = {"by_bucket": {-1: {"insert": stats["fo_i"], "update": stats["fo_u"],
                                     "delete": stats["fo_d"]}}}
            self._buffer_lineage(epoch, slice_no, rows + per_bucket, mm, wall_ms)
        if not getattr(self, "_defer_compact", False):
            counts = self.table.delta_file_counts()
            if counts and max(counts.values()) >= self.compact_every:
                self.table.compact(min_deltas=self.compact_every)
        wall_ms = int((time.time() - t0) * 1000)
        return {**m, "epoch_key": epoch_key, "n_events": n_events, "wall_ms": wall_ms}

    def _apply_slice_sequential(self, sl, epoch, slice_no, epoch_key, payload, t0) -> dict:
        from tapdata_connectors_spark.lake.merge import merge_events_sequential

        per_bucket = (
            sl.groupBy(self._bucket_or_null_sentinel().alias("_mb"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum((F.col("op") == "I").cast("long")).alias("n_i"),
                F.sum((F.col("op") == "U").cast("long")).alias("n_u"),
                F.sum((F.col("op") == "D").cast("long")).alias("n_d"),
                (F.count(F.lit(1)) - F.approx_count_distinct("event_seq")).alias("n_dupes"),
                F.min("event_seq").alias("lo"),
                F.max("event_seq").alias("hi"),
                F.lit(0).alias("n_keys"),
                F.sum(F.length(F.col("url"))).alias("key_bytes"),
            )
            .collect()
        )
        if not per_bucket:
            return {"skipped": True, "empty": True, "epoch_key": epoch_key}
        touched = {r["_mb"] for r in per_bucket if r["_mb"] >= 0}
        n_events = sum(r["n_events"] for r in per_bucket)
        if not touched:  # every event in the slice had a null PK
            wall_ms = int((time.time() - t0) * 1000)
            self._write_lineage(epoch, slice_no, per_bucket, {}, wall_ms)
            return {"skipped": True, "all_null_pk": True, "epoch_key": epoch_key,
                    "n_events": n_events, "wall_ms": wall_ms}
        m = merge_events_sequential(
            self.table, sl.filter(F.col("url").isNotNull()), payload, self.policy,
            derived=self._derived_specs(), epoch_key=epoch_key, touched=touched,
            b_key_bytes=sum(
                r["key_bytes"] or 0 for r in per_bucket if r["_mb"] >= 0
            ),
        )
        wall_ms = int((time.time() - t0) * 1000)
        self._write_lineage(epoch, slice_no, per_bucket, m, wall_ms)
        return {**m, "epoch_key": epoch_key, "n_events": n_events, "wall_ms": wall_ms}

    def _write_lineage(self, epoch, slice_no, per_bucket, m, wall_ms) -> None:
        self._buffer_lineage(epoch, slice_no, per_bucket, m, wall_ms)
        self.flush_lineage()

    def _buffer_lineage(self, epoch, slice_no, per_bucket, m, wall_ms) -> None:
        """Buffer lineage rows (epoch, slice, partition): offset range,
        event counts, merge stats — the north rule's per-partition lineage.
        partition_id -1 = slice-global row; buffered rows flush as one
        file (flush_lineage) at batch/replay end on the MOR path and per
        slice on the COW path."""
        by_bucket = m.get("by_bucket", {})
        for r in per_bucket:
            bb = by_bucket.get(r["_mb"], {})
            self._lineage_rows.append((
                epoch, slice_no, int(r["_mb"]), r["lo"], r["hi"], r["n_events"],
                r["n_i"], r["n_u"], r["n_d"], 0, r["n_dupes"],
                bb.get("insert", 0), bb.get("update", 0), bb.get("delete", 0),
                wall_ms,
            ))

    def flush_lineage(self) -> None:
        """Publish the buffered lineage rows as ONE JSON-lines file under
        `lineage_path` (`<ms>-<uuid>.jsonl`, one LINEAGE_SCHEMA object per
        line), driver-side through lake/fs.py — no Spark job for a dozen
        rows, and a remote lineage path works like a local one. The file
        appears whole via create_exclusive (write-tmp-then-publish), so a
        crash leaves no torn file for lineage() to read."""
        if not self._lineage_rows:
            return
        rows, self._lineage_rows = self._lineage_rows, []
        names = LINEAGE_SCHEMA.fieldNames()
        body = "".join(json.dumps(dict(zip(names, r))) + "\n" for r in rows)
        name = f"{int(time.time() * 1000)}-{uuid.uuid4().hex}.jsonl"
        self._lineage_io.create_exclusive(self._lineage_io.join(name), body)

    def lineage(self) -> DataFrame:
        """Every flushed lineage row, read back with LINEAGE_SCHEMA given
        explicitly (no inference job): the published `*.jsonl` files plus
        any `*.parquet` files earlier versions flushed with a Spark write,
        so a pipeline resumed on an older lineage directory keeps its old
        rows. An empty frame before the first flush."""
        self.flush_lineage()
        io = self._lineage_io
        reader = self.spark.read.schema(LINEAGE_SCHEMA)
        parts = []
        jsonl = io.glob_files(io.join("*.jsonl"))
        if jsonl:
            parts.append(reader.json(jsonl))
        legacy = io.glob_files(io.join("*.parquet"))
        if legacy:
            parts.append(reader.parquet(*legacy))
        if not parts:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    # ------------------------------------------------------------------
    def replay_batch(self, max_concurrent_epochs: int = 1,
                     epoch_batch: int | None = None) -> list[dict]:
        """Batch-mode replay of the whole staging area in epoch order.
        Idempotent: already-applied (epoch, slice) pairs are skipped, so a
        crashed replay just re-runs (fixture F11 without the streaming
        machinery).

        max_concurrent_epochs > 1 (MOR mode only): DDL-free epochs apply as
        CONCURRENT Spark jobs from driver threads. Delta appends are
        order-independent (resolution is (warc_ts, event_seq)-ordered and
        the manifest commit is locked), so overlapping epochs hides each
        epoch's serial driver phases behind another epoch's executor work —
        the local-mode stand-in for a busy multi-tenant scheduler.
        DDL-bearing epochs are barriers and apply alone, in order.

        epoch_batch (MOR + default policy; takes precedence): DDL-free
        runs apply as CHUNKS of up to `epoch_batch` epochs, each chunk one
        Spark job (apply_epoch_chunk) — the lowest-overhead replay shape:
        per-job fixed costs are paid per chunk, not per epoch."""
        epochs: list[tuple[int, bool | None]] = []
        mdir = os.path.join(self.staging_path, "_epochs")
        if os.path.isdir(mdir):
            for fn in sorted(os.listdir(mdir)):
                if fn.startswith("epoch-"):
                    with open(os.path.join(mdir, fn)) as f:
                        toks = f.read().split()
                    epochs.append((int(toks[0]), len(toks) > 1 and toks[1] == "ddl"))
        else:
            epochs = sorted(
                (int(d.split("=")[1]), None)
                for d in os.listdir(self.staging_path)
                if d.startswith("epoch=")
            )
        if self._start_epoch is not None:
            epochs = [(e, d) for e, d in epochs if e >= self._start_epoch]
        out: list[dict] = []
        if (
            epoch_batch and self.merge_mode == "mor"
            and self.policy == DEFAULT_POLICY
        ):
            self._defer_compact = True
            try:
                run_eps: list[int] = []

                def flush_chunks():
                    nonlocal run_eps
                    for i in range(0, len(run_eps), epoch_batch):
                        out.extend(self.apply_epoch_chunk(run_eps[i:i + epoch_batch]))
                        self._maybe_compact()
                    run_eps = []

                for e, has_ddl in epochs:
                    if has_ddl is False:
                        run_eps.append(e)
                    else:  # DDL (or unknown-content) epochs are barriers
                        flush_chunks()
                        df = self.spark.read.schema(EVENTS_SCHEMA).parquet(
                            os.path.join(self.staging_path, f"epoch={e}")
                        )
                        out.extend(self.apply_epoch(df, e, has_ddl=has_ddl))
                        self._maybe_compact()
                flush_chunks()
            finally:
                self._defer_compact = False
            self.flush_lineage()
            return out
        parallel = (
            max_concurrent_epochs > 1 and self.merge_mode == "mor"
            and self.policy == DEFAULT_POLICY
        )
        if not parallel:
            for e, has_ddl in epochs:
                df = self.spark.read.schema(EVENTS_SCHEMA).parquet(
                    os.path.join(self.staging_path, f"epoch={e}")
                )
                out.extend(self.apply_epoch(df, e, has_ddl=has_ddl))
            self.flush_lineage()
            return out

        from concurrent.futures import ThreadPoolExecutor

        def one(e: int, has_ddl: bool | None) -> list[dict]:
            df = self.spark.read.schema(EVENTS_SCHEMA).parquet(
                os.path.join(self.staging_path, f"epoch={e}")
            )
            return self.apply_epoch(df, e, has_ddl=has_ddl)

        # split into DDL-free runs; DDL epochs are sequential barriers
        self._defer_compact = True
        try:
            run: list[tuple[int, bool | None]] = []
            def flush_run():
                nonlocal run
                if not run:
                    return
                with ThreadPoolExecutor(max_workers=max_concurrent_epochs) as ex:
                    for res in ex.map(lambda p: one(*p), run):
                        out.extend(res)
                run = []
                self._maybe_compact()
            for e, has_ddl in epochs:
                if has_ddl is False:
                    run.append((e, has_ddl))
                else:
                    flush_run()
                    out.extend(one(e, has_ddl))
                    self._maybe_compact()
            flush_run()
        finally:
            self._defer_compact = False
        self.flush_lineage()
        return out

    # ------------------------------------------------------------------
    def timestamp_to_epoch(self, ts) -> int | None:
        """timestampToStreamOffset analog (MysqlConnector.java:760-771,
        MysqlBinlogPositionUtil.findByLessTimestamp): the first staged epoch
        still containing an event with warc_ts >= ts; None when ts is past
        the end of the log. Column-pruned scan of (epoch, warc_ts) only —
        parquet min/max stats prune row groups, epoch is the partition
        directory column."""
        df = self.spark.read.schema(EVENTS_SCHEMA).parquet(self.staging_path)
        row = (
            df.filter(F.col("warc_ts") >= F.lit(ts).cast("timestamp"))
            .agg(F.min("epoch"))
            .collect()[0]
        )
        return None if row[0] is None else int(row[0])

    def start_at(self, ts) -> int | None:
        """Start replication at a wall-clock restart point: subsequent
        replay_batch()/run_stream() skip every epoch before the one `ts`
        maps to (the reference's timestamp→stream-offset restart mode).
        Returns the resolved start epoch (None = ts is past the log end, in
        which case replay applies NOTHING until newer epochs land)."""
        e = self.timestamp_to_epoch(ts)
        # past-the-end: filter out every currently staged epoch (new epochs
        # appended later still replay — they are >= any current epoch + 1)
        self._start_epoch = e if e is not None else 2**62
        return e

    def _maybe_compact(self) -> None:
        counts = self.table.delta_file_counts()
        if counts and max(counts.values()) >= self.compact_every:
            self.table.compact(min_deltas=self.compact_every)

    # ------------------------------------------------------------------
    def start_continuity_monitor(
        self,
        checkpoint_path: str,
        key_col: str = "epoch",
        available_now: bool = True,
    ):
        """First-class liveness/continuity side-output (VERDICT r3 item 8;
        the reference's heartbeat + binlog-position bookkeeping analog,
        MysqlReader.java:268,291-292): a SECOND streaming query over the
        staged event stream runs the stateful sequence-continuity monitor
        (streaming/stateful.seq_continuity_monitor, applyInPandasWithState)
        and lands each trigger's per-key continuity rows in
        `self.continuity_rows` — lineage and liveness in one place, read
        the latest row per key for current state. Bounded driver collect:
        one row per key per trigger (keys = epochs here, O(#epochs), and
        state per key is three longs). Independent checkpoint: the monitor
        resumes separately from the apply stream and never blocks it."""
        from tapdata_connectors_spark.streaming.stateful import (
            seq_continuity_monitor,
        )

        stream = (
            self.spark.readStream.schema(EVENTS_SCHEMA)
            .option("basePath", self.staging_path)
            .parquet(os.path.join(self.staging_path, "epoch=*"))
        )
        mon = seq_continuity_monitor(stream, key_col=key_col)
        if not hasattr(self, "continuity_rows"):
            self.continuity_rows: list = []
        rows = self.continuity_rows

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            rows.extend(batch_df.collect())

        writer = (
            mon.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_path)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def latest_continuity(self) -> dict:
        """Latest continuity row per key from the side-output (newest
        observation wins — rows arrive in trigger order per key)."""
        out: dict = {}
        for r in getattr(self, "continuity_rows", []):
            out[r["key"]] = r
        return out

    def run_stream(
        self,
        checkpoint_path: str,
        max_epochs_per_trigger: int | None = None,
        available_now: bool = True,
        epoch_batch: int | None = None,
        continuity_checkpoint: str | None = None,
    ):
        """Structured-Streaming replay over the staging area's EPOCH MARKER
        stream (see sources.generator.stage_events): each marker names one
        whole epoch, markers carry strictly increasing mtimes, so the file
        source delivers epochs complete and in source order — the binlog
        ordering contract the reference relies on (events applied in offset
        order, SURVEY.md §2.11). foreachBatch loads each named epoch's
        parquet with a batch read and applies it.

        Backpressure via maxFilesPerTrigger on markers (= epochs/trigger;
        the reference's bounded event queue, MysqlReader.java:268,291-292).
        Exactly-once: the streaming checkpoint replays an unfinished marker
        batch on restart; apply_epoch's per-(epoch, slice) guard in the
        table manifest turns the redelivery into a no-op."""
        reader = self.spark.readStream
        if max_epochs_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_epochs_per_trigger)
        stream = reader.text(os.path.join(self.staging_path, "_epochs"))

        chunked = (
            epoch_batch and self.merge_mode == "mor"
            and self.policy == DEFAULT_POLICY
        )

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            # bounded driver collect: batch_df holds EPOCH MARKER lines
            # (one tiny string per epoch, ≤ max_epochs_per_trigger rows
            # per trigger), never event data — the driver round-trip is
            # O(epochs/trigger), independent of event volume
            eps = sorted(
                (int(r["value"].split()[0]), "ddl" in r["value"])
                for r in batch_df.collect()
                if r["value"].strip()
            )
            if self._start_epoch is not None:
                eps = [(e, d) for e, d in eps if e >= self._start_epoch]
            if chunked:
                # one Spark job per DDL-free run inside the trigger (the
                # same associative-fold batching as replay_batch; guard
                # keys are identical, so chunked and per-epoch triggers
                # resume over each other)
                run_eps: list[int] = []

                def flush_chunks():
                    nonlocal run_eps
                    for i in range(0, len(run_eps), epoch_batch):
                        self.apply_epoch_chunk(run_eps[i:i + epoch_batch])
                    run_eps = []

                for e, has_ddl in eps:
                    if has_ddl is False:
                        run_eps.append(e)
                    else:
                        flush_chunks()
                        df = self.spark.read.schema(EVENTS_SCHEMA).parquet(
                            os.path.join(self.staging_path, f"epoch={e}")
                        )
                        self.apply_epoch(df, e, has_ddl=has_ddl)
                flush_chunks()
            else:
                for e, has_ddl in eps:
                    df = self.spark.read.schema(EVENTS_SCHEMA).parquet(
                        os.path.join(self.staging_path, f"epoch={e}")
                    )
                    self.apply_epoch(df, e, has_ddl=has_ddl)
            self.flush_lineage()

        self._register_lifecycle_listener()
        if continuity_checkpoint is not None:
            # side-output runs as its own query so a monitor hiccup can
            # never stall the apply stream (and vice versa)
            self._continuity_query = self.start_continuity_monitor(
                continuity_checkpoint, available_now=available_now
            )
        writer = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_path)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _register_lifecycle_listener(self) -> None:
        """Lifecycle callbacks (SURVEY.md §2.11): the reference notifies
        connector init/start/stop (PDKInvocationMonitor lifecycle); here a
        StreamingQueryListener records started/progress/terminated events
        into `self.lifecycle_events` for operational visibility. Registered
        once per pipeline."""
        if getattr(self, "_listener", None) is not None:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []
        self.lifecycle_events = events

        class _Lifecycle(StreamingQueryListener):
            def onQueryStarted(self, e):
                events.append({"event": "started", "id": str(e.id),
                               "ts_ms": int(time.time() * 1000)})

            def onQueryProgress(self, e):
                events.append({"event": "progress", "id": str(e.progress.id),
                               "batch_id": e.progress.batchId,
                               "num_input_rows": e.progress.numInputRows,
                               "ts_ms": int(time.time() * 1000)})

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                events.append({"event": "terminated", "id": str(e.id),
                               "ts_ms": int(time.time() * 1000)})

        self._listener = _Lifecycle()
        self.spark.streams.addListener(self._listener)
