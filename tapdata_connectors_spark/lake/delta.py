"""Merge-on-read delta append: the O(batch) write path.

The MOR counterpart of lake/merge.py (COW). One micro-batch becomes a set
of per-bucket DELTA files holding the folded batch rows (value + set flag
per column, final op, fold order); no target read, no target rewrite —
per-epoch cost is proportional to the batch, which is the only write path
that survives 10^10 events against a 100 TB table. The deferred merge is
paid by operators/mor.resolve_mor at read time and amortized away by
LakeTable.compact().

Reference analog: ClickHouse connector's upsert = ReplacingMergeTree insert
+ OPTIMIZE FINAL (ClickhouseConnector.java:273,347) — write cheap deltas,
resolve last-writer-wins later; Hudi MOR is the lake-native version
(hudi-connector/.../HuDiWriteBySparkClient.java is its COW cousin).

Derived columns (html→text) are computed HERE, on batch rows only, via the
Arrow UDF — so extraction cost also scales with the batch, never the table.

Only the default write policy (update_on_exists / ignore_on_nonexists) is
resolvable at read time; other policies use the COW merge.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tapdata_connectors_spark.lake.merge import DerivedSpec
from tapdata_connectors_spark.lake.table import LakeTable
from tapdata_connectors_spark.operators.dedup import ColumnSpec


def append_delta(
    table: LakeTable,
    deduped: DataFrame,
    payload: list[ColumnSpec],
    derived: list[DerivedSpec] | None = None,
    epoch_key: str | list[str] | None = None,
    b_rows: int | None = None,
) -> dict:
    """Append one deduped micro-batch (lww_fold output, with `_mb` bucket
    column) as delta files. Idempotent per epoch_key; a LIST of keys (a
    batched epoch-chunk) commits atomically — the guard skips when every
    member is applied (the commit records all keys in one manifest, so
    partial application is impossible)."""
    if epoch_key is not None:
        keys = epoch_key if isinstance(epoch_key, list) else [epoch_key]
        applied = [k for k in keys if table.epoch_applied(k)]
        if applied and len(applied) == len(keys):
            return {"skipped": True, "version": table.current_version()}
        if applied:
            # A chunk commits all member keys in ONE manifest, so a mixed
            # applied/unapplied list can only come from a caller passing an
            # unfiltered key list — re-applying would double-append the
            # already-applied members' rows. Fail loudly instead.
            raise ValueError(
                "append_delta: partial epoch overlap — already applied: "
                f"{applied}; callers must pass only unapplied keys"
            )

    m = table.manifest()
    ids = {f.name: f.id for f in m.fields}
    derived = derived or []

    cols_map: dict[str, str] = {
        "key": m.key, "op": "_final_op", "seq": "_final_seq", "ord_ts": "_final_ts",
    }
    # 'DU' (delete followed only by updates) normalizes to a DELETE at the
    # delete's order under the default policy (the post-delete updates hit a
    # missing row and drop — see operators/dedup.py); MOR mode asserts the
    # default policy, so the resolver only ever sees I/U/D.
    is_du = F.col("_final_op") == "DU"
    sel = [
        F.col(m.key),
        F.when(is_du, F.lit("D")).otherwise(F.col("_final_op")).alias("_final_op"),
        F.when(is_du, F.col("_del_seq")).otherwise(F.col("_final_seq")).alias("_final_seq"),
        F.when(is_du, F.col("_del_ts")).otherwise(F.col("_final_ts")).alias("_final_ts"),
        F.col("_mb"),
    ]
    for c in payload:
        fid = str(ids[c.name])
        cols_map[fid] = c.name
        cols_map[f"s{fid}"] = f"__set_{c.name}"
        sel.append(F.col(c.name))
        sel.append(F.col(f"__set_{c.name}"))
    payload_names = {c.name for c in payload}
    chained: list[tuple] = []
    for out, src, fn in derived:
        fid = str(ids[out])
        cols_map[fid] = out
        cols_map[f"s{fid}"] = f"__set_{out}"
        if src in payload_names:
            # derived value exists exactly when its source was set (unset
            # source -> resolve keeps the base row's derived value); UDF
            # sees null input for unset rows, so extraction cost ∝
            # actually-set rows
            sel.append(F.when(F.col(f"__set_{src}"), fn(F.col(src))).alias(out))
            sel.append(F.col(f"__set_{src}").alias(f"__set_{out}"))
        else:
            chained.append((out, src, fn))

    delta = deduped.select(*sel)
    # chained specs (src itself derived, e.g. text → fingerprint): second
    # projection so the source is an attribute reference and its UDF is
    # evaluated once. Specs must be in dependency order.
    for out, src, fn in chained:
        delta = delta.withColumn(
            out, F.when(F.col(f"__set_{src}"), fn(F.col(src)))
        ).withColumn(f"__set_{out}", F.col(f"__set_{src}"))
    # write_data_files attaches per-file `rows` + column bounds from the
    # parquet footers (lake/stats.py) — rows feed per-partition lineage,
    # bounds feed read-side file skipping. Local-FS metadata reads only;
    # on remote lakes lineage reports global counts from observe() instead.
    entries = table.write_data_files(delta, "_mb", kind="delta", columns=cols_map)
    version = table.commit_files(
        entries,
        replaced_buckets=None,
        epoch_key=epoch_key,
        summary={"op": "append_delta", "batch_rows": b_rows,
                 "wall_ms": int(time.time() * 1000)},
    )
    return {"version": version, "delta_files": len(entries), "entries": entries}
