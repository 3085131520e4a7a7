"""Manifest-versioned copy-on-write parquet table ("lake table").

Design (Iceberg-shaped, implemented from scratch on public Spark APIs):

- A table is a directory:
      <dir>/_manifests/v{N}.json     immutable snapshot manifests
      <dir>/_manifests/CURRENT       atomic pointer to the live version
      <dir>/data/...                 immutable parquet data files
- A manifest lists data files with, per file, the physical column layout
  (field_id -> physical name / physical type at write time). The logical
  schema is a list of (field_id, name, type); schema evolution mutates the
  logical schema only — old files are read through the field-id mapping
  (rename is metadata-only; type widening casts on read; added columns are
  null for old files). This is Iceberg's name-mapping idea re-done small.
- Buckets: data files are hash-bucketed on the merge key
  (pmod(xxhash64(key), n_buckets)), the analog of Iceberg's
  `bucket(N, url)` partition transform and of the reference's
  CRC32-mod hash-split scan (CommonDbConnector.java:612-674,
  MysqlConnector.java:600-609). MERGE rewrites only touched buckets.
- Commits are atomic: write the immutable v{N+1}.json, then swap the
  CURRENT pointer. All metadata IO goes through lake/fs.py — plain POSIX
  for local paths, `org.apache.hadoop.fs.FileSystem` for any URI
  (file://, hdfs://, s3a://): whatever filesystem the Spark cluster can
  read, the lake can commit to. CURRENT is a HINT (Iceberg
  version-hint.text semantics): readers fall back to max(vN.json) when it
  is missing or torn, which makes the non-atomic object-store rename safe;
  a multi-writer deployment would CAS the pointer via a catalog /
  conditional put (single-writer-process here, see the commit lock).
- applied_epochs lives in the manifest: the idempotence guard for
  re-driven micro-batch epochs (exactly-once effect — SURVEY.md §2.11).

Scale: manifests carry O(#files) JSON; at 100 TB with 512 MB files that is
~200k entries — fine for driver-side JSON, and bucket pruning means a MERGE
plan only enumerates the touched subset.
"""

from __future__ import annotations

import hashlib
import json
import os
import posixpath
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tapdata_connectors_spark.schema import (
    HIDDEN_COLS,
    ORDERING_COL,
    SEQ_COL,
    TOMBSTONE_COL,
)

# --- type name <-> Spark type (the engine's supported scalar surface;
#     reference analog: dataTypes maps in *-spec.json, SURVEY.md §1.2) ------
_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "smallint": T.ShortType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
}

# legal widenings (Iceberg-compatible set)
_WIDEN_OK = {
    ("int", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("float", "double"),
}


def type_of(name: str) -> T.DataType:
    name = name.lower()
    if name in _TYPES:
        return _TYPES[name]
    if name.startswith("decimal"):
        p, s = name[name.find("(") + 1 : name.find(")")].split(",")
        return T.DecimalType(int(p), int(s))
    # list columns (Iceberg list type analog) — enrichment signatures
    # (e.g. minhash_sig array<bigint>) store one; arrays never widen
    if name.startswith("array<") and name.endswith(">"):
        return T.ArrayType(type_of(name[6:-1]))
    raise ValueError(f"unsupported lake type: {name}")


@dataclass
class Field:
    id: int
    name: str
    type: str  # simpleString
    nullable: bool = True
    # ADD COLUMN attribute specs (MysqlAddColumnDDLWrapper.java:35-98):
    # `default` is the Iceberg-style INITIAL default — rows written before
    # the column existed read back this value (string repr, cast by type).
    # Writes do NOT evaluate defaults (lake semantics, like Iceberg v2).
    default: str | None = None
    comment: str | None = None


@dataclass
class Manifest:
    version: int
    fields: list[Field]
    key: str
    n_buckets: int
    # {path, bucket, columns: {id->phys name}, types: {id->phys type},
    #  types_written: True when `types` are the written types}
    files: list[dict]
    applied_epochs: dict[str, str] = field(default_factory=dict)
    next_field_id: int = 0
    summary: dict = field(default_factory=dict)
    parent: int | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "fields": [vars(f) for f in self.fields],
                "key": self.key,
                "n_buckets": self.n_buckets,
                "files": self.files,
                "applied_epochs": self.applied_epochs,
                "next_field_id": self.next_field_id,
                "summary": self.summary,
                "parent": self.parent,
            }
        )

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        return Manifest(
            version=d["version"],
            fields=[Field(**f) for f in d["fields"]],
            key=d["key"],
            n_buckets=d["n_buckets"],
            files=d["files"],
            applied_epochs=d.get("applied_epochs", {}),
            next_field_id=d.get("next_field_id", 0),
            summary=d.get("summary", {}),
            parent=d.get("parent"),
        )


# per-table-path commit lock: commits are read-modify-write on the manifest,
# and concurrent epoch application (driver threads) must serialize them.
# CROSS-process writers are arbitrated by the exclusive-create manifest
# CAS in _commit (+ the commit_files retry loop); this in-process lock
# just keeps same-JVM threads from burning retries against each other.
_COMMIT_LOCKS: dict[str, threading.RLock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


class CommitConflict(RuntimeError):
    """A concurrent writer committed the manifest version this commit was
    built against. Data commits (commit_files) retry automatically; DDL
    paths surface it — schema changes replay from ONE driver in source
    order by design (the DDL barrier), so a DDL conflict means the
    deployment is misconfigured, not a race to paper over."""


# content-addressed bucket-manifest lists (name embeds the md5 of the
# bytes), so a process-wide cache can never serve stale content; bounded
# by periodic clear, see LakeTable._bucket_list
_BUCKET_LIST_CACHE: dict[str, list] = {}


def _layout_groups(files: list[dict]) -> list[list[dict]]:
    """Data files grouped by identical physical layout (columns + types,
    and whether those types are the written ones): each group is one
    `LakeTable._scan`."""
    groups: dict[str, list[dict]] = {}
    for fi in files:
        sig = json.dumps([fi["columns"], fi["types"], fi.get("types_written", False)],
                         sort_keys=True)
        groups.setdefault(sig, []).append(fi)
    return list(groups.values())


def _lock_for(path: str) -> threading.RLock:
    with _COMMIT_LOCKS_GUARD:
        return _COMMIT_LOCKS.setdefault(path, threading.RLock())


class LakeTable:
    """Handle on a lake table directory. Cheap to construct; re-reads the
    CURRENT pointer lazily so it always sees the latest committed snapshot."""

    def __init__(self, spark: SparkSession, path: str):
        from tapdata_connectors_spark.lake.fs import has_scheme, make_fs

        self.spark = spark
        self.path = path.rstrip("/") if has_scheme(path) else os.path.abspath(path)
        self._io = make_fs(spark, self.path)
        self._lock = _lock_for(self.path)

    # ---------------- catalog primitives ----------------
    @property
    def _mdir(self) -> str:
        return self._io.join("_manifests")

    def exists(self) -> bool:
        return self._io.exists(posixpath.join(self._mdir, "CURRENT")) or bool(
            self._manifest_versions()
        )

    def _manifest_versions(self) -> list[int]:
        return sorted(
            int(n[1:-5])
            for n in self._io.list_names(self._mdir)
            if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
        )

    def current_version(self) -> int:
        """CURRENT is a hint only: the head is max(hint, committed
        listing). A concurrent writer's pointer swap can land out of
        order (writer A's CURRENT=5 after writer B committed v6), and
        object-store renames can tear — neither may hide a committed
        version, or the multi-writer CAS loop would rebuild against a
        stale base forever. Probe forward from the hint (vN+1 existence
        checks) instead of listing: O(gap) metadata reads, gap is 0 in
        steady state."""
        hint = None
        try:
            hint = int(
                self._io.read_text(posixpath.join(self._mdir, "CURRENT")).strip()
            )
        except Exception:
            pass
        if hint is None:
            vs = self._manifest_versions()
            if not vs:
                raise FileNotFoundError(f"no manifests under {self._mdir}")
            return vs[-1]
        v = hint
        while self._io.exists(posixpath.join(self._mdir, f"v{v + 1}.json")):
            v += 1
        return v

    def manifest(self, version: int | None = None) -> Manifest:
        v = self.current_version() if version is None else version
        d = json.loads(
            self._io.read_text(posixpath.join(self._mdir, f"v{v}.json"))
        )
        refs = d.pop("files_ref", None)
        if refs is not None:
            files: list[dict] = []
            for b in sorted(refs, key=int):
                files.extend(dict(e) for e in self._bucket_list(refs[b]))
            d["files"] = files
        return Manifest(
            version=d["version"],
            fields=[Field(**f) for f in d["fields"]],
            key=d["key"],
            n_buckets=d["n_buckets"],
            files=d["files"],
            applied_epochs=d.get("applied_epochs", {}),
            next_field_id=d.get("next_field_id", 0),
            summary=d.get("summary", {}),
            parent=d.get("parent"),
        )

    def _bucket_list(self, name: str) -> list[dict]:
        """One bucket's manifest-entry list by content-addressed file name.
        The files are immutable (name embeds the content hash), so the
        process-wide cache can never serve stale data; entries are
        shallow-copied on materialization so callers can't mutate it."""
        cached = _BUCKET_LIST_CACHE.get(name)
        if cached is None:
            cached = json.loads(
                self._io.read_text(posixpath.join(self._mdir, name))
            )
            if len(_BUCKET_LIST_CACHE) > 4096:
                _BUCKET_LIST_CACHE.clear()
            _BUCKET_LIST_CACHE[name] = cached
        return cached

    def _serialize_manifest(self, m: Manifest) -> str:
        """Two-level (Iceberg manifest-list shaped) persistence: the file
        inventory is spilled to per-BUCKET, content-addressed side files
        (`b{bucket}-{md5 of the canonical entry JSON}.json`) and the root
        manifest stores only their names. A commit touching k of N buckets
        re-serializes k bucket lists — untouched buckets hash to the same
        name and the existing side file is reused untouched — so commit
        metadata cost is O(touched files + root), not O(all files): at
        10^5 files x 10^4 commits the one-level layout rewrites ~20 MB of
        JSON per commit and this one ~20 KB. Racing writers producing the
        same content write the same name with identical bytes, so losing
        the side-file CAS is benign; orphaned side files from lost ROOT
        races are GC'd by vacuum under the same age guard as data files."""
        groups: dict[int, list] = {}
        for e in m.files:
            groups.setdefault(e["bucket"], []).append(e)
        refs: dict[str, str] = {}
        for b, entries in groups.items():
            blob = json.dumps(entries, sort_keys=True)
            h = hashlib.md5(blob.encode()).hexdigest()[:16]
            name = f"b{b}-{h}.json"
            p = posixpath.join(self._mdir, name)
            if name not in _BUCKET_LIST_CACHE:
                if not self._io.exists(p):
                    self._io.create_exclusive(p, blob)
                _BUCKET_LIST_CACHE[name] = json.loads(blob)
            refs[str(b)] = name
        return json.dumps(
            {
                "version": m.version,
                "fields": [vars(f) for f in m.fields],
                "key": m.key,
                "n_buckets": m.n_buckets,
                "files_ref": refs,
                "applied_epochs": m.applied_epochs,
                "next_field_id": m.next_field_id,
                "summary": m.summary,
                "parent": m.parent,
            }
        )

    def _commit(self, m: Manifest) -> None:
        """Snapshot commit: the immutable manifest file is created with an
        exclusive-create CAS (POSIX O_EXCL locally, HDFS atomic create
        remotely — lake/fs.py create_exclusive), so two PROCESSES racing
        on the same next version get exactly one winner; the loser sees
        CommitConflict and must rebuild against the new head (commit_files
        does this automatically). The pointer swap after the CAS is a
        hint update only (current_version probes past it)."""
        self._io.mkdirs(self._mdir)
        if not self._io.create_exclusive(
            posixpath.join(self._mdir, f"v{m.version}.json"),
            self._serialize_manifest(m),
        ):
            raise CommitConflict(
                f"manifest v{m.version} already committed by a concurrent "
                f"writer ({self.path})"
            )
        tmp = posixpath.join(self._mdir, f".CURRENT.{uuid.uuid4().hex}")
        self._io.write_text(tmp, str(m.version))
        self._io.replace(tmp, posixpath.join(self._mdir, "CURRENT"))

    # ---------------- DDL ----------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        fields: list[tuple[str, str]],  # (name, simpleString type)
        key: str,
        n_buckets: int = 16,
    ) -> "LakeTable":
        t = cls(spark, path)
        if t.exists():
            raise FileExistsError(path)
        flds = [Field(i + 1, n, ty) for i, (n, ty) in enumerate(fields)]
        m = Manifest(
            version=0,
            fields=flds,
            key=key,
            n_buckets=n_buckets,
            files=[],
            next_field_id=len(flds) + 1,
            summary={"op": "create", "ts_ms": int(time.time() * 1000)},
        )
        t._commit(m)
        return t

    def clear(self) -> int:
        """TRUNCATE analog (CommonDbConnector.java:352-357 clearTable):
        commit a snapshot with no data files. Schema, history (time travel)
        and applied_epochs are retained — an already-applied epoch must not
        re-apply after a clear (exactly-once bookkeeping outlives the data,
        like the reference's exactlyOnceId cache outliving a truncate)."""
        with self._lock:
            m = self.manifest()
            m.files = []
            m.version += 1
            m.parent = m.version - 1
            m.summary = {"op": "clear", "ts_ms": int(time.time() * 1000)}
            self._commit(m)
            return m.version

    def drop(self) -> None:
        """DROP TABLE analog (CommonDbConnector.java:359-362 dropTable):
        remove manifests and data files. The handle is dead afterwards."""
        with self._lock:
            self._io.delete(self.path, recursive=True)

    def add_column(
        self,
        name: str,
        type_: str,
        epoch_key: str | None = None,
        default: str | None = None,
        not_null: bool = False,
        comment: str | None = None,
    ) -> None:
        """TapNewFieldEvent analog (MysqlAddColumnDDLWrapper.java:35-98) →
        metadata-only ALTER TABLE ADD COLUMN. `epoch_key` makes DDL replay
        idempotent (re-driven epoch after a crash is a no-op). `default` is
        the initial default: pre-ADD rows read it back (Iceberg-style);
        `not_null`/`comment` are recorded schema attributes."""
        m = self.manifest()
        if epoch_key is not None and epoch_key in m.applied_epochs:
            return
        if any(f.name == name for f in m.fields):
            raise ValueError(f"column exists: {name}")
        type_of(type_)  # validate
        m.fields.append(
            Field(m.next_field_id, name, type_, nullable=not not_null,
                  default=default, comment=comment)
        )
        m.next_field_id += 1
        self._commit_ddl(
            m,
            {"op": "add_column", "column": name, "type": type_,
             "default": default, "not_null": not_null, "comment": comment},
            epoch_key,
        )

    def rename_column(self, old: str, new: str, epoch_key: str | None = None) -> None:
        """TapAlterFieldNameEvent analog (MysqlAlterColumnNameDDLWrapper.java)
        → metadata-only rename; old files resolve through field ids."""
        m = self.manifest()
        if epoch_key is not None and epoch_key in m.applied_epochs:
            return
        self._guard_engine_column(m, old, "rename")
        f = self._field(m, old)
        if any(x.name == new for x in m.fields):
            raise ValueError(f"column exists: {new}")
        f.name = new
        self._commit_ddl(m, {"op": "rename_column", "from": old, "to": new}, epoch_key)

    def widen_column(
        self,
        name: str,
        new_type: str,
        epoch_key: str | None = None,
        default: str | None = None,
        not_null: bool | None = None,
        comment: str | None = None,
    ) -> None:
        """TapAlterFieldAttributesEvent analog
        (MysqlAlterColumnAttrsDDLWrapper.java): type change (lossless
        widenings only) PLUS the attribute changes the reference bundles
        into the same event — nullability, default, comment (golden
        fixture DDLFactoryTest.java:130). `None` means "not specified in
        the DDL" and leaves the stored attribute unchanged; an updated
        `default` becomes the initial default pre-ADD rows read back
        (same Iceberg-style rule as add_column)."""
        m = self.manifest()
        if epoch_key is not None and epoch_key in m.applied_epochs:
            return
        f = self._field(m, name)
        if f.type != new_type and (f.type, new_type) not in _WIDEN_OK:
            raise ValueError(f"illegal widen {f.type} -> {new_type} for {name}")
        f.type = new_type
        if not_null is not None:
            f.nullable = not not_null
        if default is not None:
            f.default = default
        if comment is not None:
            f.comment = comment
        self._commit_ddl(
            m,
            {"op": "widen_column", "column": name, "type": new_type,
             "default": default, "not_null": not_null, "comment": comment},
            epoch_key,
        )

    def drop_column(self, name: str, epoch_key: str | None = None) -> None:
        """TapDropFieldEvent analog (MysqlDropColumnDDLWrapper.java) →
        metadata-only drop; data files keep the bytes, reads ignore them
        (re-adding the name later mints a fresh field id, so old values can
        never resurface)."""
        m = self.manifest()
        if epoch_key is not None and epoch_key in m.applied_epochs:
            return
        self._guard_engine_column(m, name, "drop")
        f = self._field(m, name)
        m.fields = [x for x in m.fields if x.id != f.id]
        self._commit_ddl(m, {"op": "drop_column", "column": name}, epoch_key)

    def _commit_ddl(self, m: Manifest, summary: dict, epoch_key: str | None) -> None:
        with self._lock:
            if epoch_key is not None:
                m.applied_epochs[epoch_key] = "ddl"
            m.version += 1
            m.parent = m.version - 1
            m.summary = summary
            self._commit(m)

    # ---------------- snapshot lifecycle ----------------
    def history(self) -> list[dict]:
        """Commit log over the retained manifests (Delta `DESCRIBE HISTORY`
        / Iceberg `snapshots` analog; the reference's closest surface is
        per-sync WriteListResult counters — a shared lake needs the log
        attached to the TABLE, not the connector run). Oldest first; one
        bounded metadata read per retained manifest (vacuum caps the
        count), no data IO, no Spark job."""
        out = []
        for v in self._manifest_versions():
            m = self.manifest(v)
            out.append(
                {
                    "version": v,
                    "parent": m.parent,
                    "ts_ms": m.summary.get("ts_ms"),
                    "op": m.summary.get("op"),
                    "summary": m.summary,
                    "n_files": len(m.files),
                    "n_delta_files": sum(
                        1 for f in m.files if f.get("kind") == "delta"
                    ),
                    "n_epochs_applied": len(m.applied_epochs),
                }
            )
        return out

    def rollback_to(self, version: int) -> int:
        """Restore the table to snapshot `version` by committing a NEW
        manifest that re-pins that snapshot's schema + file set (Iceberg
        `rollback_to_snapshot` / Delta `RESTORE` — roll-forward, so the
        abandoned head stays time-travel-readable until vacuum and
        concurrent readers never see a version disappear).

        applied_epochs is restored to `version`'s set: epochs applied
        after it are no longer marked applied, so a replay resumes from
        the restored state and the exactly-once guard re-admits exactly
        the rolled-back epochs.

        Guards: the target manifest must still be retained, and every
        data file it references must still exist (vacuum may have GC'd
        files only old snapshots referenced) — existence is verified
        up front (O(files-at-version) metadata probes, no data IO) so a
        half-broken restore can never commit."""
        with self._lock:
            head = self.current_version()
            if version == head:
                return head
            target = self.manifest(version)  # raises if expired/unknown
            missing = [
                f["path"]
                for f in target.files
                if not self._io.exists(self._io.join(f["path"]))
            ]
            if missing:
                raise FileNotFoundError(
                    f"rollback_to({version}): {len(missing)} data file(s) "
                    f"were vacuumed, e.g. {missing[:3]}"
                )
            for _ in range(20):
                head = self.current_version()
                m = Manifest(
                    version=head + 1,
                    fields=target.fields,
                    key=target.key,
                    n_buckets=target.n_buckets,
                    files=target.files,
                    applied_epochs=dict(target.applied_epochs),
                    next_field_id=target.next_field_id,
                    summary={
                        "op": "rollback",
                        "restored_version": version,
                        "ts_ms": int(time.time() * 1000),
                    },
                    parent=head,
                )
                try:
                    self._commit(m)
                    return m.version
                except CommitConflict:
                    continue
            raise CommitConflict(
                f"rollback_to({version}): 20 consecutive conflicts on {self.path}"
            )

    @staticmethod
    def _guard_engine_column(m: Manifest, name: str, verb: str) -> None:
        """Engine-critical columns can't be renamed or dropped: the merge key
        (Manifest.key would dangle — every later bucket_expr/merge_into fails)
        and the LWW ordering column (merge.py/_mor order on it by name; a
        rename silently breaks the redelivery stale-guard). Surfacing a clear
        error here mirrors the reference rejecting DDL it can't apply
        (SURVEY.md §2.9 unknown-DDL behavior)."""
        if name == m.key:
            raise ValueError(f"cannot {verb} the merge key column {name!r}")
        if name == ORDERING_COL:
            raise ValueError(
                f"cannot {verb} the LWW ordering column {name!r} "
                "(merge ordering and the redelivery stale-guard depend on it)"
            )

    @staticmethod
    def _field(m: Manifest, name: str) -> Field:
        for f in m.fields:
            if f.name == name:
                return f
        raise KeyError(name)

    # ---------------- read path ----------------
    def schema(self, version: int | None = None) -> T.StructType:
        m = self.manifest(version)
        return T.StructType(
            [T.StructField(f.name, type_of(f.type), f.nullable) for f in m.fields]
        )

    def bucket_expr(self, col: str | None = None) -> F.Column:
        m = self.manifest()
        return F.pmod(F.xxhash64(F.col(col or m.key)), F.lit(m.n_buckets)).cast("int")

    def _phys_name(self, m: Manifest, entry: dict, logical: str) -> str | None:
        """Physical column name carrying `logical` inside one data file
        (renames leave old physical names behind; deltas use their own
        layout). None = unknown → the file is never pruned on it."""
        if entry.get("kind") == "delta":
            special = {m.key: "key", SEQ_COL: "seq", ORDERING_COL: "ord_ts"}
            sid = special.get(logical)
            return entry["columns"].get(sid) if sid else None
        if logical == SEQ_COL:
            fid = -1
        elif logical == TOMBSTONE_COL:
            fid = -2
        else:
            fid = next((f.id for f in m.fields if f.name == logical), None)
        return entry["columns"].get(str(fid)) if fid is not None else None

    def prune_entries(
        self, m: Manifest, files: list[dict], prune: dict[str, tuple]
    ) -> list[dict]:
        """Metadata-only file skipping — the Iceberg lower/upper-bounds
        scan prune, at BUCKET granularity: a bucket's files are all
        dropped iff EVERY one of them has bounds proving no row matches
        every `logical_col -> (lo, hi)` predicate (None = unbounded side).

        Granularity is what makes this sound under MOR, where rows are
        superseded ACROSS files of one bucket (base + deltas) and
        resolution is column-level partial-update (operators/mor.py): a
        matching row's unset columns come from OLDER files and its
        supersession evidence from NEWER ones, so for a NON-KEY predicate
        no individual file of a delta-bearing bucket can be dropped
        unless ALL can (then no current row matches either — every row's
        current version is recorded in some file of the bucket).
        Predicates on the MERGE KEY are the exception and the fast path:
        resolution is per-key, so a file whose key bounds exclude the
        probed key range contributes nothing to any matching key's
        resolution and is dropped per-file even in MOR buckets (this is
        what makes `lookup` open ~1 file, not 1 bucket). Buckets with
        only base files are read as a plain union (no per-key resolution)
        — there pruning commutes with union+filter and runs per-file on
        every predicate; compaction therefore restores full file-level
        skipping for ts/seq range probes (the read-optimized view).
        Files/columns without stats always survive — and, for non-key
        predicates in MOR buckets, keep their whole bucket — so
        degradation is safe."""
        from tapdata_connectors_spark.lake.stats import range_may_match

        key_prune = {c: b for c, b in prune.items() if c == m.key}
        rest_prune = {c: b for c, b in prune.items() if c != m.key}

        def excl(e: dict, preds: dict) -> bool:
            return any(
                not range_may_match(e, self._phys_name(m, e, col), lo, hi)
                for col, (lo, hi) in preds.items()
            )

        if key_prune:  # per-file sound everywhere (per-key resolution)
            files = [e for e in files if not excl(e, key_prune)]
        if not rest_prune:
            return files
        mor_buckets = {e["bucket"] for e in files if e.get("kind") == "delta"}
        live_buckets = {
            e["bucket"] for e in files
            if e["bucket"] in mor_buckets and not excl(e, rest_prune)
        }
        return [
            e for e in files
            if (e["bucket"] in live_buckets if e["bucket"] in mor_buckets
                else not excl(e, rest_prune))
        ]

    def read_raw(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read including hidden engine columns and tombstones.

        `prune` ({logical col -> (lo, hi)}) skips files by their manifest
        bounds BEFORE any data IO (bucket-granular in MOR buckets, so
        merge resolution always sees full history — see prune_entries).
        The result is superset-correct for rows satisfying the predicates;
        rows outside them may be missing, so callers MUST re-apply the
        same predicates (read_range/lookup do) — exactly Iceberg's
        scan-with-filter contract.

        Base files are grouped by identical physical layout; each group is
        read in one `spark.read.parquet(*paths)` (so Spark still plans
        splits, pushdown and pruning per group) with the physical schema
        the manifest records (`_scan`), mapped id->current name
        with casts, then unioned by name. Missing columns (pre-ADD files)
        come back as typed nulls.

        Buckets that carry DELTA files (merge-on-read mode) are resolved
        here: base ∪ delta rows fold to current state in one shuffle
        (operators/mor.resolve_mor). Delta-free buckets take the zero-
        shuffle base path and are unioned in.
        """
        m = self.manifest(version)
        files = m.files
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if prune:
            files = self.prune_entries(m, files, prune)

        if not files:
            return self.spark.createDataFrame([], self._raw_schema(m))

        delta_buckets = {f["bucket"] for f in files if f.get("kind") == "delta"}
        plain = [f for f in files if f["bucket"] not in delta_buckets]
        base_in_delta = [
            f for f in files
            if f["bucket"] in delta_buckets and f.get("kind") != "delta"
        ]
        deltas = [f for f in files if f.get("kind") == "delta"]

        parts: list[DataFrame] = []
        if plain:
            parts.append(self._read_base(m, plain))
        if deltas:
            parts.append(self._resolve_deltas(m, base_in_delta, deltas))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _scan(self, grp: list[dict]) -> DataFrame:
        """Read one group of same-layout data files. Entries stamped
        `types_written` record the physical type of every column they
        hold (write_data_files), so the read passes that schema and Spark
        skips the footer-inference job a schema-less `read.parquet`
        launches. Older entries recorded the DECLARED types, which can
        differ from the written ones (a derived column declared "string"
        but written bigint); they keep the schema-less read."""
        e = grp[0]
        paths = [self._io.join(g["path"]) for g in grp]
        if not e.get("types_written"):
            return self.spark.read.parquet(*paths)
        schema = T.StructType([
            T.StructField(phys, type_of(e["types"][i]))
            for i, phys in e["columns"].items()
        ])
        return self.spark.read.schema(schema).parquet(*paths)

    def _read_base(self, m: Manifest, files: list[dict]) -> DataFrame:
        logical = [(f.id, f.name, f.type) for f in m.fields]
        hidden = [(-1, SEQ_COL, "bigint"), (-2, TOMBSTONE_COL, "boolean")]
        want = logical + hidden
        defaults = {f.id: f.default for f in m.fields if f.default is not None}

        parts: list[DataFrame] = []
        for grp in _layout_groups(files):
            cols = {int(k): v for k, v in grp[0]["columns"].items()}
            df = self._scan(grp)
            sel = []
            for fid, name, ty in want:
                if fid in cols:
                    sel.append(F.col(cols[fid]).cast(type_of(ty)).alias(name))
                elif fid == -2:
                    # legacy/no tombstone column -> live rows
                    sel.append(F.lit(False).alias(name))
                elif fid in defaults:
                    # pre-ADD files: initial default instead of null
                    sel.append(F.lit(defaults[fid]).cast(type_of(ty)).alias(name))
                else:
                    sel.append(F.lit(None).cast(type_of(ty)).alias(name))
            parts.append(df.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _resolve_deltas(
        self, m: Manifest, base_files: list[dict], delta_files: list[dict]
    ) -> DataFrame:
        """Build unified rows (see operators/mor.py) and resolve to current
        state for the buckets that have pending deltas."""
        from tapdata_connectors_spark.operators.dedup import ColumnSpec
        from tapdata_connectors_spark.operators.mor import KIND, ORD, resolve_mor

        payload = [ColumnSpec(f.name, f.type) for f in m.fields if f.name != m.key]
        defaults = {f.id: f.default for f in m.fields if f.default is not None}

        parts: list[DataFrame] = []
        if base_files:
            b = self._read_base(m, base_files)
            sel = [F.col(m.key)]
            for c in payload:
                sel.append(F.col(c.name))
                sel.append(F.lit(True).alias(f"__set_{c.name}"))
            sel.append(
                F.when(F.col(TOMBSTONE_COL), F.lit("T")).otherwise(F.lit("B")).alias(KIND)
            )
            sel.append(
                F.struct(F.col("warc_ts").alias("ts"), F.col(SEQ_COL).alias("seq")).alias(ORD)
            )
            parts.append(b.select(*sel))

        for grp in _layout_groups(delta_files):
            cols = grp[0]["columns"]
            df = self._scan(grp)
            sel = [F.col(cols["key"]).alias(m.key)]
            for f in m.fields:
                if f.name == m.key:
                    continue
                fid = str(f.id)
                if fid in cols:
                    sel.append(F.col(cols[fid]).cast(type_of(f.type)).alias(f.name))
                    sel.append(F.col(cols[f"s{fid}"]).alias(f"__set_{f.name}"))
                elif f.id in defaults:
                    # pre-ADD delta: the row reads the initial default, as a
                    # pre-ADD base row does (_read_base) — a SET value, or a
                    # key whose history is all pre-ADD deltas resolves null
                    sel.append(F.lit(defaults[f.id]).cast(type_of(f.type)).alias(f.name))
                    sel.append(F.lit(True).alias(f"__set_{f.name}"))
                else:
                    sel.append(F.lit(None).cast(type_of(f.type)).alias(f.name))
                    sel.append(F.lit(False).alias(f"__set_{f.name}"))
            sel.append(F.col(cols["op"]).alias(KIND))
            sel.append(
                F.struct(
                    F.col(cols["ord_ts"]).alias("ts"),
                    F.col(cols["seq"]).cast("bigint").alias("seq"),
                ).alias(ORD)
            )
            parts.append(df.select(*sel))

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return resolve_mor(out, payload, key=m.key)

    def delta_file_counts(self) -> dict[int, int]:
        """Pending delta files per bucket (compaction trigger input)."""
        counts: dict[int, int] = {}
        for f in self.manifest().files:
            if f.get("kind") == "delta":
                counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        return counts

    def compact(
        self,
        buckets: list[int] | None = None,
        min_deltas: int = 1,
        expire_tombstones: bool = False,
        concurrency: int = 1,
    ) -> dict:
        """Rewrite buckets with pending deltas to plain base files (the MOR
        compactor — Hudi-compaction analog). Returns {buckets, version}.

        expire_tombstones drops tombstone rows from the rewritten buckets —
        safe once no redelivery can predate them (operator-supplied
        watermark decision; the reference's exactlyOnceId cache has the
        same retention tradeoff).

        concurrency > 1 compacts bucket groups as CONCURRENT Spark jobs
        (driver threads): each group's resolve+write is an independent
        pipeline over disjoint buckets, so overlapping them hides scheduler
        and write latencies — same technique as parallel epoch replay."""
        counts = self.delta_file_counts()
        explicit = buckets is not None
        if buckets is None:
            buckets = [b for b, n in counts.items() if n >= min_deltas]
        if not (explicit and expire_tombstones):
            # normally only delta-bearing buckets need rewriting; an
            # explicit expiry request rewrites the named buckets regardless
            buckets = [b for b in buckets if counts.get(b)]
        have = {f["bucket"] for f in self.manifest().files}
        buckets = sorted(b for b in set(buckets) if b in have)
        if not buckets:
            return {"buckets": [], "version": self.current_version()}

        def one_group(grp: list[int]) -> None:
            # pin ONE manifest snapshot per group: `consumed` and the file
            # set folded by read_raw must come from the same version, or a
            # delta committed between the two reads is folded into the new
            # base but kept in the manifest (double-represented rows; with
            # expire_tombstones it could resurrect an expired delete)
            gset = set(grp)
            pinned = self.current_version()
            snap = self.manifest(pinned)
            consumed = {f["path"] for f in snap.files if f["bucket"] in gset}
            resolved = self.read_raw(version=pinned, buckets=grp).withColumn(
                "_mb", self.bucket_expr()
            )
            if expire_tombstones:
                resolved = resolved.filter(~F.col(TOMBSTONE_COL))
            # key-clustered rewrite: compaction is the amortization point
            # for the per-partition sort (see write_data_files.cluster_by)
            entries = self.write_data_files(resolved, "_mb",
                                            cluster_by=snap.key)
            # replace exactly the files that were resolved: a delta appended
            # concurrently (parallel epoch application) survives the commit
            self.commit_files(
                entries,
                replaced_paths=consumed,
                summary={"op": "compact", "buckets": len(grp)},
            )

        if concurrency <= 1 or len(buckets) == 1:
            one_group(buckets)
        else:
            from concurrent.futures import ThreadPoolExecutor

            n_groups = min(concurrency * 2, len(buckets))
            groups = [buckets[i::n_groups] for i in range(n_groups)]
            with ThreadPoolExecutor(max_workers=concurrency) as ex:
                list(ex.map(one_group, [g for g in groups if g]))
        return {"buckets": buckets, "version": self.current_version()}

    def read(self, version: int | None = None) -> DataFrame:
        """User-visible snapshot: tombstones filtered, hidden columns dropped."""
        df = self.read_raw(version)
        return df.filter(~F.col(TOMBSTONE_COL)).drop(*HIDDEN_COLS)

    def read_range(
        self, where: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Snapshot read with metadata file-skipping: files whose manifest
        bounds exclude every `{col: (lo, hi)}` predicate are never opened,
        then the same predicates run as Spark filters over the survivors
        (pushed into the parquet scan). The natural CDC probes — "pages
        changed in a time window" (warc_ts) / "events past an offset"
        (_event_seq) — skip all but the matching commits' files, because
        each commit's bounds cover only the keys/times it touched."""
        df = self.read_raw(version, prune=where)
        for col, (lo, hi) in where.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df.filter(~F.col(TOMBSTONE_COL)).drop(*HIDDEN_COLS)

    def lookup(self, key_value, version: int | None = None) -> DataFrame:
        """Point read by primary key: hash-bucket pruning (1 of n_buckets)
        + manifest-bounds file skipping + key-equality pushdown — the
        production path for the reference's queryByFilter point lookup
        over the lake (CommonDbConnector.java:377-398 runs it as
        WHERE pk = ?). The bucket is computed DRIVER-SIDE (pure-python
        XXH64 with pinned bit-parity to Spark's xxhash64 —
        functions/xxh.py), so until the pruned file scan a lookup is
        metadata-only: no Spark job just to hash one literal."""
        from tapdata_connectors_spark.functions.xxh import spark_xxhash64

        m = self.manifest(version)
        key_type = next(f.type for f in m.fields if f.name == m.key)
        h = spark_xxhash64(key_value, key_type)
        if h is not None:
            b = h % m.n_buckets  # python % == Spark pmod (non-negative)
        else:  # unsupported key type: evaluate the expression in Spark
            b = self.spark.createDataFrame(
                [(key_value,)],
                T.StructType([T.StructField(m.key, type_of(key_type))])
            ).select(self.bucket_expr(m.key).alias("b")).collect()[0]["b"]
        df = self.read_raw(
            version, buckets=[b], prune={m.key: (key_value, key_value)}
        )
        return (
            df.filter(F.col(m.key) == F.lit(key_value))
            .filter(~F.col(TOMBSTONE_COL))
            .drop(*HIDDEN_COLS)
        )

    def changed_buckets(self, since_version: int,
                        to_version: int | None = None) -> list[int]:
        """Buckets whose FILE SET differs between two snapshots (manifest
        diff by path — pure metadata, no data IO). Superset of the buckets
        with logical changes: compaction/rollback rewrites count too, but
        read_changes' value diff refines those to zero rows."""
        m_old = self.manifest(since_version)
        m_new = self.manifest(to_version)
        old_paths = {f["path"]: f["bucket"] for f in m_old.files}
        new_paths = {f["path"]: f["bucket"] for f in m_new.files}
        touched = {b for p, b in new_paths.items() if p not in old_paths}
        touched |= {b for p, b in old_paths.items() if p not in new_paths}
        return sorted(touched)

    def read_changes(
        self,
        since_version: int,
        to_version: int | None = None,
        preimages: bool = False,
    ) -> DataFrame:
        """Changelog between two committed snapshots (Iceberg
        `create_changelog_view` / Delta Change Data Feed analog): one row
        per key whose LIVE state differs, in the TO version's schema, with
        `_change_type` ∈ insert|update|delete (with preimages=True,
        update splits into update_preimage/update_postimage rows — the
        Delta CDF shape). Lets a downstream consumer chain incremental
        work off the lake instead of re-reading the corpus.

        Scale shape: the manifest diff prunes the read to TOUCHED buckets
        only — both snapshots are read just for those (per-epoch commits
        touch ≪ all buckets at 10^10 events), then ONE full-outer join on
        the key classifies rows; AQE handles skewed keys. Schema drift
        between the versions is aligned by FIELD ID (renames follow,
        since-added columns read as typed null on the old side,
        since-dropped columns are excluded — current-schema semantics,
        like Iceberg's changelog), so DDL between the snapshots never
        misclassifies an untouched row as updated."""
        m_new = self.manifest(to_version)
        buckets = self.changed_buckets(since_version, to_version)
        payload = [f for f in m_new.fields if f.name != m_new.key]
        out_cols = [m_new.key] + [f.name for f in payload] + ["_change_type"]
        if not buckets:
            return self.spark.createDataFrame(
                [],
                T.StructType(
                    [T.StructField(m_new.key, type_of(
                        next(f.type for f in m_new.fields if f.name == m_new.key)))]
                    + [T.StructField(f.name, type_of(f.type)) for f in payload]
                    + [T.StructField("_change_type", T.StringType())]
                ),
            )

        m_old = self.manifest(since_version)
        old_by_id = {f.id: f for f in m_old.fields}

        def live(version):
            df = self.read_raw(version=version, buckets=buckets)
            return df.filter(~F.col(TOMBSTONE_COL))

        # old snapshot projected into the NEW schema: rename-by-id, widen
        # casts, since-added fields as typed null
        old_sel = []
        for f in m_new.fields:
            o = old_by_id.get(f.id)
            if o is not None:
                old_sel.append(F.col(o.name).cast(type_of(f.type)).alias(f.name))
            else:
                old_sel.append(F.lit(None).cast(type_of(f.type)).alias(f.name))
        old = live(since_version).select(*old_sel)
        new = live(to_version).select(
            m_new.key, *[F.col(f.name).cast(type_of(f.type)) for f in payload]
        )

        o = old.select(
            F.col(m_new.key).alias("__k"),
            *[F.col(f.name).alias(f"__o_{f.name}") for f in payload],
            F.lit(True).alias("__in_old"),
        )
        n = new.select(
            F.col(m_new.key).alias("__k"),
            *[F.col(f.name).alias(f"__n_{f.name}") for f in payload],
            F.lit(True).alias("__in_new"),
        )
        j = o.join(n, "__k", "full_outer")

        same = F.lit(True)
        for f in payload:
            same = same & F.col(f"__o_{f.name}").eqNullSafe(F.col(f"__n_{f.name}"))
        ctype = (
            F.when(F.col("__in_old").isNull(), F.lit("insert"))
            .when(F.col("__in_new").isNull(), F.lit("delete"))
            .when(same, F.lit(None))  # COW rewrite / delta no-op: unchanged
            .otherwise(F.lit("update"))
        )
        j = j.withColumn("_change_type", ctype).filter(F.col("_change_type").isNotNull())

        def img(side: str, label: F.Column) -> DataFrame:
            return j.select(
                F.col("__k").alias(m_new.key),
                *[F.col(f"__{side}_{f.name}").alias(f.name) for f in payload],
                label.alias("_change_type"),
            )

        if not preimages:
            # delete rows carry the preimage values; insert/update the postimage
            sel = [F.col("__k").alias(m_new.key)]
            for f in payload:
                sel.append(
                    F.when(
                        F.col("_change_type") == "delete", F.col(f"__o_{f.name}")
                    ).otherwise(F.col(f"__n_{f.name}")).alias(f.name)
                )
            sel.append(F.col("_change_type"))
            return j.select(*sel).select(*out_cols)

        upd = F.col("_change_type") == "update"
        post = img(
            "n",
            F.when(upd, F.lit("update_postimage")).otherwise(F.col("_change_type")),
        ).filter(F.col("_change_type") != "delete")
        pre = img(
            "o",
            F.when(upd, F.lit("update_preimage")).otherwise(F.col("_change_type")),
        ).filter(F.col("_change_type").isin("update_preimage", "delete"))
        return post.unionByName(pre).select(*out_cols)

    def _raw_schema(self, m: Manifest) -> T.StructType:
        flds = [T.StructField(f.name, type_of(f.type), True) for f in m.fields]
        flds += [
            T.StructField(SEQ_COL, T.LongType(), True),
            T.StructField(TOMBSTONE_COL, T.BooleanType(), True),
        ]
        return T.StructType(flds)

    # ---------------- write path (used by merge.py / delta.py) ----------------
    def write_data_files(
        self,
        df: DataFrame,
        bucket_col: str,
        kind: str = "base",
        columns: dict[str, str] | None = None,
        cluster_by: str | None = None,
        n_buckets: int | None = None,
    ) -> list[dict]:
        """Write df as new immutable data files partitioned by bucket; return
        manifest file entries. For kind='base' df must contain all logical
        columns (current names) + hidden columns + `bucket_col`; for
        kind='delta' the caller supplies the physical column mapping.

        `cluster_by` sorts rows by that column WITHIN each bucket's write
        partition (no extra shuffle — a per-partition sort fused into the
        write stage). Key-clustered files make the parquet per-row-group
        min/max ranges on the key disjoint, so a pushed-down point/range
        predicate skips all but ~one row group inside even a multi-GB file
        — Hudi/Iceberg's sort-clustering. Used at compaction, where the
        one-time sort is amortized over every later read."""
        m = self.manifest()
        commit_id = uuid.uuid4().hex[:12]
        rel = posixpath.join("data", f"c{commit_id}")
        out_dir = self._io.join(rel)
        clustered = df.withColumn("__bucket", F.col(bucket_col).cast("int"))
        # bucket-aligned clustering before the partitioned write: without
        # it every task writes a file into every bucket it touches
        # (tasks × buckets small files per commit — a scan killer at
        # scale). Hash repartition on the bucket id gives ~one file per
        # bucket per commit with NO extra pass (repartitionByRange would
        # run a sampling job over the full result before every write).
        clustered = clustered.repartition(n_buckets or m.n_buckets,
                                          F.col("__bucket"))
        if cluster_by is not None:
            clustered = clustered.sortWithinPartitions("__bucket", cluster_by)
        writer = clustered.write.partitionBy("__bucket")
        # parquet bloom filter on the PHYSICAL key column: O(1)-ish
        # membership metadata per row group, so a key-equality pushdown
        # (lookup) skips row groups whose min/max range covers the key but
        # which don't actually contain it — decisive for hash-distributed
        # keys, whose per-file range is always [~min, ~max]
        # physical key column is named m.key in BOTH layouts (base stores
        # logical names; delta's id "key" maps to the physical name m.key)
        key_phys = m.key
        if key_phys in clustered.columns:
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{key_phys}", "true"
            ).option(
                # size the filter by the chunk's ACTUAL key cardinality
                # (parquet-mr AdaptiveBlockSplitBloomFilter), not the 1M-NDV
                # default — small CDC delta files would otherwise pay a
                # fixed ~1.2 MB per chunk (measured 1.48 MB → 0.56 MB on a
                # 100k-key file)
                "parquet.bloom.filter.adaptive.enabled", "true"
            )
        writer.parquet(out_dir, mode="overwrite")
        if columns is None:
            columns = {str(f.id): f.name for f in m.fields}
            columns.update({"-1": SEQ_COL, "-2": TOMBSTONE_COL})
        # record the type each column was actually WRITTEN with: _scan
        # reads the file back with it (a frame's type can differ from the
        # declared one: a union with a typed-null branch widens a derived
        # column, a bootstrap frame brings its own types)
        written = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        types = {i: written[phys] for i, phys in columns.items()}
        entries: list[dict] = []
        # FS-glob enumeration of exactly this commit's files — works on any
        # Hadoop filesystem (no POSIX listdir); one metadata round-trip
        for fp in self._io.glob_files(
            posixpath.join(out_dir, "__bucket=*", "*.parquet")
        ):
            parts = fp.rstrip("/").split("/")
            bdir, fn = parts[-2], parts[-1]
            e = {
                "path": posixpath.join(rel, bdir, fn),
                "bucket": int(bdir.split("=")[1]),
                "columns": columns,
                "types": types,
                "types_written": True,
            }
            if kind != "base":
                e["kind"] = kind
            entries.append(e)
        # Iceberg-style per-file column bounds from the parquet footers
        # (metadata-only; lake/stats.py) — read-side pruning skips files
        # whose range can't match a key/seq/ts predicate
        from tapdata_connectors_spark.lake.stats import attach_stats

        attach_stats(self._io, entries)
        return entries

    def commit_files(
        self,
        new_entries: list[dict],
        replaced_buckets: set[int] | None = None,
        epoch_key: str | list[str] | None = None,
        epoch_hash: str = "",
        summary: dict | None = None,
        replaced_paths: set[str] | None = None,
    ) -> int:
        """Commit a snapshot: keep files outside replaced_buckets (COW) or
        not in replaced_paths (compaction — path-precise so a concurrently
        appended delta can never be dropped), add new entries, optionally
        record one or more applied epochs (a LIST records every member of a
        batched epoch-chunk atomically — all-or-nothing with the files).

        Multi-writer safe: the manifest CAS (_commit) arbitrates
        cross-process races; on conflict the merge is REBUILT against the
        new head and retried, so a lost race never drops the other
        writer's files or this writer's entries. In-process threads
        additionally serialize on the table lock (no wasted retries)."""
        with self._lock:
            last_err: CommitConflict | None = None
            for _ in range(20):
                m = self.manifest()
                keep = list(m.files)
                if replaced_buckets:
                    keep = [f for f in keep if f["bucket"] not in replaced_buckets]
                if replaced_paths:
                    keep = [f for f in keep if f["path"] not in replaced_paths]
                m.files = keep + new_entries
                if epoch_key is not None:
                    keys = epoch_key if isinstance(epoch_key, list) else [epoch_key]
                    for k in keys:
                        m.applied_epochs[k] = epoch_hash
                m.version += 1
                m.parent = m.version - 1
                m.summary = {**(summary or {}), "ts_ms": int(time.time() * 1000)}
                try:
                    self._commit(m)
                    return m.version
                except CommitConflict as e:
                    last_err = e
                    continue
            raise CommitConflict(
                f"commit_files: 20 consecutive conflicts on {self.path} — "
                f"pathological writer contention; last: {last_err}"
            )

    def epoch_applied(self, epoch_key: str) -> bool:
        return epoch_key in self.manifest().applied_epochs

    def rebucket(self, n_buckets: int, attempts: int = 3) -> int:
        """Change the hash-bucket count by rewriting the whole table under
        the NEW bucket function — partition-spec evolution (Iceberg's
        bucket[N]->bucket[M] spec change; Hudi/Delta require the same full
        re-cluster). The op every long-lived lake eventually needs: a
        table bootstrapped at 16 buckets drowns at 10^5x growth (each
        bucket becomes TBs; merges and compactions stop parallelizing).

        One Spark job: snapshot read (MOR resolution included, tombstones
        and their redelivery guard PRESERVED), re-assign `_mb` under the
        new modulus, key-clustered write, then a CAS commit pinned to the
        snapshot version that was rewritten — a concurrent epoch commit
        wins the race and rebucket re-runs against the new head (bounded),
        so no writer's epoch can be silently folded out. Orphaned files
        from lost attempts age out via vacuum."""
        if n_buckets < 1:
            raise ValueError("rebucket: n_buckets must be >= 1")
        last_err: CommitConflict | None = None
        for _ in range(attempts):
            m = self.manifest()
            pinned = m.version
            if m.n_buckets == n_buckets:
                return pinned
            df = self.read_raw(version=pinned).withColumn(
                "_mb",
                F.pmod(F.xxhash64(F.col(m.key)), F.lit(n_buckets)).cast("int"),
            )
            entries = self.write_data_files(
                df, "_mb", cluster_by=m.key, n_buckets=n_buckets
            )
            with self._lock:
                head = self.manifest()
                if head.version != pinned:
                    last_err = CommitConflict(
                        f"rebucket: head moved {pinned}->{head.version}"
                    )
                    continue
                new_m = Manifest(
                    version=pinned + 1,
                    fields=head.fields,
                    key=head.key,
                    n_buckets=n_buckets,
                    files=entries,
                    applied_epochs=head.applied_epochs,
                    next_field_id=head.next_field_id,
                    summary={"op": "rebucket", "from": head.n_buckets,
                             "to": n_buckets,
                             "ts_ms": int(time.time() * 1000)},
                    parent=pinned,
                )
                try:
                    self._commit(new_m)
                    return new_m.version
                except CommitConflict as e:
                    last_err = e
                    continue
        raise CommitConflict(
            f"rebucket: lost {attempts} races to concurrent writers on "
            f"{self.path}; quiesce epoch application or raise attempts "
            f"(last: {last_err})"
        )

    def expire_epochs(self, keep: Callable[[str], bool]) -> dict:
        """Drop applied-epoch guard entries for which keep(key) is False —
        the retention companion of the exactly-once guard. applied_epochs
        grows by one entry per delivered epoch forever; once the source
        can no longer REDELIVER an epoch (its offset range is past the
        binlog/WAL retention horizon — the same horizon the reference's
        exactlyOnceId cache truncates on, MysqlReader.java:851-854), the
        entry is dead bookkeeping. Expiring a still-redeliverable epoch
        re-admits it, so the caller owns the horizon decision, exactly
        like vacuum's min_age_sec — and the blast radius differs by mode:
        a COW target absorbs an actual redelivery anyway (the MERGE stale
        guard keeps existing rows at equal/newer seq), while a MOR target
        would append a second delta with duplicate (key, seq) rows that
        read-time resolution does NOT collapse (its inputs are unique per
        (key, seq) by contract) — so for MOR, expire strictly behind the
        source's redelivery horizon.

        Commits a new snapshot (CAS-raced like any commit); data files
        are untouched."""
        with self._lock:
            for _ in range(20):
                m = self.manifest()
                dropped = [k for k in m.applied_epochs if not keep(k)]
                if not dropped:
                    return {"dropped": 0, "version": m.version}
                for k in dropped:
                    del m.applied_epochs[k]
                m.version += 1
                m.parent = m.version - 1
                m.summary = {"op": "expire_epochs", "dropped": len(dropped),
                             "ts_ms": int(time.time() * 1000)}
                try:
                    self._commit(m)
                    return {"dropped": len(dropped), "version": m.version}
                except CommitConflict:
                    continue
            raise CommitConflict(
                f"expire_epochs: 20 consecutive conflicts on {self.path}"
            )

    def vacuum(self, retain_last: int = 2, min_age_sec: float = 3600.0) -> dict:
        """Physically delete data files and manifests no retained snapshot
        references (Delta VACUUM / Iceberg expireSnapshots analog —
        reference cleanup paths like PDKInvocationMonitor release are
        connector-local; a shared lake needs snapshot-scoped GC or
        replaced files accumulate forever: every COW epoch rewrites
        touched buckets and every compaction retires delta files, so at
        10^5 epochs the dead:live byte ratio is unbounded).

        Retention contract (same shape as Delta's):
        - the last `retain_last` manifests stay readable (time travel
          inside the window; older `read(version=...)` raises);
        - `min_age_sec` guards IN-FLIGHT writers: write_data_files lands
          files BEFORE commit_files references them, so an unreferenced
          file younger than the window may belong to an uncommitted
          epoch and is kept (a crashed writer's orphans age out and are
          collected by the next vacuum). Set it well above the longest
          write+commit latency; 0 only in tests.
        - safe against CONCURRENT commits: a racing writer rebuilds its
          keep-list from the current head (retained) and its new entries
          are fresh uuid-named files (age 0 < min_age_sec) — neither can
          reference a deleted path.
        """
        if retain_last < 1:
            raise ValueError("vacuum: retain_last must be >= 1")
        head = self.current_version()
        floor_v = head - retain_last + 1
        keep_versions = [v for v in self._manifest_versions() if v >= floor_v]
        referenced = {
            f["path"] for v in keep_versions for f in self.manifest(v).files
        }

        data_root = self._io.join("data")
        deleted_files = skipped_recent = 0
        now = time.time()
        touched_dirs: set[str] = set()
        for ap in self._io.glob_files(
            posixpath.join(data_root, "c*", "__bucket=*", "*.parquet")
        ):
            parts = ap.rstrip("/").split("/")
            rel = posixpath.join("data", *parts[-3:])
            if rel in referenced:
                continue
            try:
                if now - self._io.mtime(ap) < min_age_sec:
                    skipped_recent += 1
                    continue
            except Exception:
                continue  # raced a concurrent delete/rename — leave it
            self._io.delete(ap)
            touched_dirs.add(posixpath.join(data_root, parts[-3]))
            deleted_files += 1
        # drop commit dirs emptied by the sweep (bucket dirs first)
        for cdir in touched_dirs:
            for sub in self._io.list_names(cdir):
                subp = posixpath.join(cdir, sub)
                if not self._io.glob_files(posixpath.join(subp, "*")):
                    self._io.delete(subp, recursive=True)
            if not self._io.list_names(cdir):
                self._io.delete(cdir, recursive=True)

        deleted_manifests = 0
        for v in self._manifest_versions():
            if v < floor_v:
                self._io.delete(posixpath.join(self._mdir, f"v{v}.json"))
                deleted_manifests += 1
        # content-addressed bucket-list side files: delete the ones no
        # retained root references, under the same age guard (a side file
        # may belong to a root whose CAS hasn't landed yet)
        ref_names: set[str] = set()
        for v in keep_versions:
            d = json.loads(
                self._io.read_text(posixpath.join(self._mdir, f"v{v}.json"))
            )
            ref_names.update(d.get("files_ref", {}).values())
        for n in self._io.list_names(self._mdir):
            if not (n.startswith("b") and n.endswith(".json")) or n in ref_names:
                continue
            p = posixpath.join(self._mdir, n)
            try:
                if now - self._io.mtime(p) < min_age_sec:
                    skipped_recent += 1
                    continue
            except Exception:
                continue
            self._io.delete(p)
            _BUCKET_LIST_CACHE.pop(n, None)
            deleted_manifests += 1
        return {
            "retained_versions": keep_versions,
            "deleted_files": deleted_files,
            "deleted_manifests": deleted_manifests,
            "skipped_recent": skipped_recent,
        }
