"""Final-state check: the engine's table against an expected state computed
without the engine's fold, merge or merge-on-read code.

The expected state comes from the repository's strictly sequential
reference replayer (tests/oracle.py), driven the way the pipeline delivers
epochs: in epoch order, split at DDL barriers. Only skinny event columns
travel to the driver — each html value is replaced by its event's
`event_seq`, and text is extracted at the end, only for the html that
survives, by the pure reference function `extract_text_bytes`.

Both sides reduce to one row per live url: (warc_ts in microseconds, lang,
xxhash64 of text). Rows are compared one by one; the record also carries
the row count and an order-independent hash of the rows (the fingerprint).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tapdata_connectors_spark.functions.text_extract import extract_text_bytes
from tapdata_connectors_spark.schema import EVENTS_SCHEMA
from tests.oracle import OracleReplayer


class _RefReplayer(OracleReplayer):
    """Sequential replayer whose html values are event_seq references.
    Text is the extraction of the row's current html, so it is derived
    once at the end instead of at every html change."""

    def _finish(self, url: str, row: dict, html_changed: bool) -> None:
        row["url"] = url
        self.state[url] = row


@F.pandas_udf(T.LongType())
def _text_hash(html: pd.Series) -> pd.Series:
    # the reference extraction, hashed driver-independently below
    texts = html.map(extract_text_bytes, na_action="ignore")
    return pd.Series([_h(t) for t in texts], dtype="Int64")


def _h(s) -> int | None:
    if s is None or s is pd.NA:
        return None
    return int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(),
                          "big", signed=True)


@F.pandas_udf(T.LongType())
def _str_hash(s: pd.Series) -> pd.Series:
    return pd.Series([_h(x) if isinstance(x, str) else None for x in s],
                     dtype="Int64")


def read_staged(spark: SparkSession, staging: str,
                epochs: list[int] | None = None) -> DataFrame:
    """Staged events of `epochs` (all when None), with the epoch column."""
    reader = spark.read.schema(EVENTS_SCHEMA).option("basePath", staging)
    if epochs is None:
        return reader.parquet(staging)
    return reader.parquet(*[f"{staging}/epoch={e}" for e in epochs])


def _events(spark: SparkSession, staging: str, epochs: list[int]) -> list[dict]:
    pdf = read_staged(spark, staging, epochs).select(
        "event_seq", "epoch", "op", "url",
        F.col("before.url").alias("b_url"),
        F.unix_micros("warc_ts").alias("ts"),
        F.col("after").isNull().alias("a_null"),
        F.col("after.url").alias("a_url"),
        F.unix_micros("after.warc_ts").alias("a_ts"),
        F.col("after.html").isNotNull().alias("a_html"),
        F.col("after.lang").alias("a_lang"),
        F.concat_ws(",", "removed_fields").alias("removed"),
        F.to_json("extras").alias("extras"),
        F.to_json("ddl").alias("ddl"),
    ).toPandas()
    out = []
    for r in pdf.itertuples(index=False):
        seq = int(r.event_seq)
        out.append({
            "event_seq": seq, "epoch": int(r.epoch), "op": r.op, "url": r.url,
            "warc_ts": None if pd.isna(r.ts) else int(r.ts),  # null on DDL
            "before": {"url": r.b_url} if r.b_url is not None else None,
            "after": None if r.a_null else {
                "url": r.a_url,
                "warc_ts": None if pd.isna(r.a_ts) else int(r.a_ts),
                "html": seq if r.a_html else None,
                "lang": r.a_lang,
            },
            "removed_fields": r.removed.split(",") if r.removed else None,
            "extras": json.loads(r.extras) if r.extras else None,
            "ddl": json.loads(r.ddl) if r.ddl else None,
        })
    return out


def expected_state(spark: SparkSession, staging: str, epochs: list[int]) -> dict:
    """url -> (warc_ts micros, lang, text hash) after replaying `epochs`."""
    o = _RefReplayer()
    events = _events(spark, staging, epochs)
    by_epoch: dict[int, list[dict]] = {}
    for e in events:
        by_epoch.setdefault(e["epoch"], []).append(e)
    for ep in sorted(by_epoch):
        evs = by_epoch[ep]
        ddls = sorted((e for e in evs if e["op"] == "DDL"), key=lambda e: e["event_seq"])
        dml = [e for e in evs if e["op"] != "DDL"]
        lo = None
        for d in ddls:
            hi = d["event_seq"]
            o.apply_slice([e for e in dml if (lo is None or e["event_seq"] > lo)
                           and e["event_seq"] < hi])
            x = d["ddl"]
            o.apply_ddl(x["kind"], x["column"], x.get("new_name"),
                        x.get("new_type"), x.get("new_default"))
            lo = hi
        o.apply_slice([e for e in dml if lo is None or e["event_seq"] > lo])

    html, lang, ts = (o.image_names[c] for c in ("html", "lang", "warc_ts"))
    refs = sorted({r[html] for r in o.state.values() if r.get(html) is not None})
    text_hash: dict[int, int | None] = {}
    if refs:
        ref_df = spark.createDataFrame([(r,) for r in refs], "event_seq long")
        rows = (
            read_staged(spark, staging, epochs)
            .filter(F.col("after.html").isNotNull())
            .join(F.broadcast(ref_df), "event_seq", "left_semi")
            .dropDuplicates(["event_seq"])
            .select("event_seq", _text_hash(F.col("after.html")).alias("h"))
            .collect()
        )
        text_hash = {r["event_seq"]: r["h"] for r in rows}
    return {
        url: (r.get(ts), r.get(lang),
              text_hash[r[html]] if r.get(html) is not None else None)
        for url, r in o.state.items()
    }


def actual_state(table) -> dict:
    pdf = table.read().select(
        "url", F.unix_micros("warc_ts").alias("ts"), "lang",
        _str_hash(F.col("text")).alias("h"),
    ).toPandas()
    return {
        r.url: (None if pd.isna(r.ts) else int(r.ts), r.lang,
                None if pd.isna(r.h) else int(r.h))
        for r in pdf.itertuples(index=False)
    }


def fingerprint(state: dict) -> tuple[int, str]:
    acc = 0
    for url, row in state.items():
        d = hashlib.blake2b(repr((url,) + tuple(row)).encode(), digest_size=8)
        acc = (acc + int.from_bytes(d.digest(), "big")) % (1 << 64)
    return len(state), f"{acc:016x}"


@dataclass
class CheckResult:
    ok: bool
    rows_expected: int
    rows_actual: int
    mismatched_rows: int
    fingerprint_expected: str
    fingerprint_actual: str


def compare(expected: dict, actual: dict) -> CheckResult:
    keys = expected.keys() | actual.keys()
    bad = sum(1 for k in keys if expected.get(k) != actual.get(k))
    ne, fe = fingerprint(expected)
    na, fa = fingerprint(actual)
    return CheckResult(bad == 0 and (ne, fe) == (na, fa), ne, na, bad, fe, fa)
