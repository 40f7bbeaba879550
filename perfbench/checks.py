"""Output checks: what each workload's sinks must hold, computed in
pandas / DuckDB / plain Python from the generated inputs alone.

Every mismatch is counted, and the counts feed ``failed_ratio``.
"""

from __future__ import annotations

import os
import re
import unicodedata
from collections import Counter

import pyarrow.dataset as ds

# Spark's regex ``\s`` (java.util.regex) is exactly this class.
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")

BLOCKLIST = ["slow scan", "dup table"]
#: the event type the ingest pipeline's filter interceptor drops
DROPPED_TYPE = "view"


def normalize(text: str) -> str:
    """``functions.text.normalize_text`` defaults: NFC, lower-case,
    whitespace runs to one space, trimmed."""
    return _JAVA_SPACE.sub(" ", unicodedata.normalize("NFC", text).lower()).strip(" ")


def collapse(text: str) -> str:
    return _JAVA_SPACE.sub(" ", text)


def read_sink(path: str) -> list[dict]:
    """Rows of a ``parquet_exactly_once`` sink, each with its
    ``__batch_id`` partition."""
    if not os.path.isdir(path):
        return []
    # pyarrow skips '_'-prefixed paths by default, which would hide
    # every '__batch_id=N' directory
    table = ds.dataset(path, format="parquet", partitioning="hive",
                       ignore_prefixes=[".", "_SUCCESS"]).to_table()
    return table.to_pylist()


# --- stream_ingest -----------------------------------------------------------


def ingest_route(e: dict) -> tuple[str, str] | None:
    """Where the ingest pipeline must put event ``e`` and with which
    payload: (sink, normalised text), or None when it is dropped (the
    ``DROPPED_TYPE`` filter, the blocklist, or no sink accepting it)."""
    if e["event_type"] == DROPPED_TYPE:
        return None
    value = normalize(e["text"])
    if any(p in value for p in BLOCKLIST):
        return None
    if e["event_type"] == "error":
        return "alerts", value
    if e["user_id"] % 10 != 0:
        return "main", value
    return None


def check_ingest(offered: list[dict], sinks: dict[str, list[dict]]) -> dict:
    """Compare the exact multiset of events in each sink with the
    oracle. Returns counts of lost, duplicated and wrong rows."""
    expected = {name: Counter() for name in sinks}
    for e in offered:
        routed = ingest_route(e)
        if routed is not None:
            sink, value = routed
            # the row as the sink holds it: event id, payload, due-time
            # stamp and the 'bucket' header the transform interceptor adds
            expected[sink][(e["event_id"], value, e["due_ms"], str(e["user_id"] % 16))] += 1
    lost = extra = 0
    for name, rows in sinks.items():
        got = Counter()
        for r in rows:
            h = dict(r["headers"])
            got[(int(h["event_id"]), r["value"], int(h["due_ms"]), h.get("bucket"))] += 1
        lost += sum((expected[name] - got).values())
        extra += sum((got - expected[name]).values())
    return {"lost": lost, "unexpected": extra,
            "expected_rows": sum(sum(c.values()) for c in expected.values())}


# --- stream_batching ---------------------------------------------------------


def batching_line(e: dict) -> str:
    return f"{e['event_id']}|{e['due_ms']}|{collapse(e['text'])}"


def check_batching(offered: list[dict], flushes: list[dict], batch_size: int) -> dict:
    """Flushed bodies must equal, per tag (the event type), the
    deduplicated on-time events (duplicates and late events dropped), and every size flush
    must hold exactly ``batch_size`` events."""
    expected: dict[str, Counter] = {}
    for e in offered:
        if e["kind"] == "new":
            expected.setdefault(e["event_type"], Counter())[batching_line(e)] += 1
    got: dict[str, Counter] = {}
    bad_flushes = 0
    for f in flushes:
        lines = f["body"].split("\n")
        if f["n_events"] != len(lines) or (
            f["flush_reason"] == "size" and f["n_events"] != batch_size
        ):
            bad_flushes += 1
        got.setdefault(f["tag"], Counter()).update(lines)
    lost = extra = 0
    for tag in set(expected) | set(got):
        e, g = expected.get(tag, Counter()), got.get(tag, Counter())
        lost += sum((e - g).values())
        extra += sum((g - e).values())
    return {"lost": lost, "unexpected": extra, "bad_flushes": bad_flushes,
            "expected_rows": sum(sum(c.values()) for c in expected.values())}


# --- corpus probe ------------------------------------------------------------


def _canon(value):
    if isinstance(value, float):
        return round(value, 6)
    return value


def oracle_rows(con, sql: str) -> list[tuple]:
    return sorted(tuple(_canon(v) for v in row) for row in con.sql(sql).fetchall())


def spark_rows(rows) -> list[tuple]:
    return sorted(tuple(_canon(v) for v in row) for row in rows)


def duckdb_over(data_dir: str):
    """A DuckDB connection with a ``documents`` view over the generated
    table, for the ``QUERIES[...].oracle`` SQL."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(data_dir, 'documents.parquet')}'"
    )
    return con
