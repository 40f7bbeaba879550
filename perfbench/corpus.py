"""Corpus-curation probe: the batch kernels, timed per layer.

A seeded ``documents`` table with fixed shares of exact and near
duplicates is written as parquet; corpus cells run on it once, each
materialised through the ``noop`` sink; each operator they compose then
runs on its own through the same sink. An untimed pass afterwards
collects every cell and checks it against its ``QUERIES[...].oracle``
in DuckDB.

The probe runs inside a traced stream run, on its session, so the
kernels have per-layer numbers. The four cells are split between the
two workloads' traced runs (``PROBES``) so that neither run nears its
time limit: the filtering cells (``q117_pretrain_pipeline``,
``q235_crawl_pipeline``) with ``stream_ingest``, which runs
``normalize_text`` and ``blocklist_filter`` in its pipeline too, and
the near-duplicate cells (``q41_dedup_clusters``, ``q26_minhash_lsh``)
with ``stream_batching``. The benchmark has no batch workload of its
own: a cold corpus pass takes over 30 s on a 4-core machine, which the
run budget cannot hold next to the two streams.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from checks import BLOCKLIST, duckdb_over, oracle_rows, spark_rows

N_DOCS = 500
DUP_SHARE = 0.10
NEAR_SHARE = 0.10
#: per workload: the cells its traced run times
PROBES = {
    "stream_ingest": ("q117_pretrain_pipeline", "q235_crawl_pipeline"),
    "stream_batching": ("q41_dedup_clusters", "q26_minhash_lsh"),
}
WARC_SHARDS = 4
#: robots rules for the two crawl hosts: host, allow, path pattern
ROBOTS_RULES = [
    ("a.example.com", False, "/docs/"), ("a.example.com", True, "/docs/en"),
    ("a.example.com", False, "/*/print$"), ("b.example.com", True, "/"),
    ("b.example.com", False, "/private/"), ("b.example.com", False, "/pub/f1$"),
    ("b.example.com", True, "/pub/*1$"),
]


def warc_shards(docs: list[dict]) -> list[tuple[int, bytes]]:
    """The documents as crawled pages packed into ``WARC_SHARDS`` WARC
    blobs with ``sources.warc.encode_warc_records``: each page wraps the
    text in link-dense chrome, under a messy URL that the robots rules
    admit or refuse; one document in seven has a repeated-substring
    body (a low-entropy page)."""
    from atiesh_spark.sources.warc import encode_warc_records

    shards: dict[int, list[tuple[str, bytes]]] = {}
    for d in docs:
        i = d["doc_id"]
        if i % 2 == 0:
            url = f"HTTPS://WWW.A.Example.COM/docs/{d['lang']}/p{i % 5}"
            url += "/print" if i % 4 == 0 else ""
        else:
            url = f"HTTPS://B.Example.COM:443/{'private' if i % 3 == 0 else 'pub'}/f{i % 5}"
        url += f"?utm_source=x&keep={i % 3}#frag"
        body = d["text"][:40] * 10 if i % 7 == 0 else d["text"]
        page = (
            '<html><head><title>t</title></head><body><div id="nav">'
            '<a href="/">Home</a> <a href="/x">Archive</a></div>'
            f"<p>{body}</p>"
            '<div id="footer"><a href="/tos">Terms</a></div></body></html>'
        )
        shards.setdefault(i % WARC_SHARDS, []).append((url, page.encode("utf-8")))
    return [(k, encode_warc_records(recs)) for k, recs in sorted(shards.items())]


def _timed_pass(spark, data_dir: str, cells, tracer, group: str):
    """One pass over every cell, each materialised through the ``noop``
    sink, under job group ``group``: (per-cell seconds, names of the
    cells that raised)."""
    from atiesh_spark.plans import QUERIES

    secs, failed = {}, []
    spark.sparkContext.setJobGroup(group, group)
    for name in cells:
        t = time.perf_counter()
        with tracer.span(f"plans.{name}"):
            try:
                QUERIES[name].spark(spark, data_dir).write.format("noop").mode(
                    "overwrite").save()
            except Exception as exc:  # a failed cell is counted, not fatal
                print(f"# cell {name} failed: {exc!r}")
                failed.append(name)
        secs[name] = time.perf_counter() - t
    return secs, failed


def _mismatched(spark, data_dir: str, cells) -> list[str]:
    """The cells whose collected rows differ from their
    ``QUERIES[...].oracle`` in DuckDB (an untimed pass of its own)."""
    from atiesh_spark.plans import QUERIES

    spark.sparkContext.setJobGroup("corpus_oracle", "corpus_oracle")
    con = duckdb_over(data_dir)
    try:
        return [n for n in cells
                if spark_rows(QUERIES[n].spark(spark, data_dir).collect())
                != oracle_rows(con, QUERIES[n].oracle)]
    finally:
        con.close()


def _job_counts(spark, group: str) -> tuple[int, int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return len(jobs), stages, tasks


def _timed(tracer, name: str, build) -> float:
    """Seconds to build a frame and materialise it through the ``noop``
    sink, under span ``name``."""
    t = time.perf_counter()
    with tracer.span(name):
        build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _filter_layers(spark, data_dir: str, docs_rows: list[dict], tracer) -> dict:
    """The operators of q117 and q235, each timed on its own."""
    from pyspark.sql import functions as F

    from atiesh_spark.functions.text import normalize_text
    from atiesh_spark.operators.blocklist import blocklist_filter
    from atiesh_spark.operators.dedup import exact_dedup
    from atiesh_spark.operators.sampling import budgeted_take
    from atiesh_spark.operators.web import crawl_verdict_rows
    from atiesh_spark.sources.tables import load_table

    def timed(name, build):
        return _timed(tracer, name, build)

    docs = load_table(spark, data_dir, "documents")
    out = {
        "sources.tables.load_table_s": timed(
            "sources.tables.load_table", lambda: load_table(spark, data_dir, "documents")),
        "functions.text.normalize_text_s": timed(
            "functions.text.normalize_text",
            lambda: docs.select("doc_id", normalize_text("text").alias("t"))),
        "operators.blocklist.blocklist_filter_s": timed(
            "operators.blocklist.blocklist_filter",
            lambda: blocklist_filter(docs, "text", BLOCKLIST)),
        "operators.dedup.exact_dedup_s": timed(
            "operators.dedup.exact_dedup", lambda: exact_dedup(docs, "doc_id", "text")),
        "operators.sampling.budgeted_take_s": timed(
            "operators.sampling.budgeted_take",
            lambda: budgeted_take(docs, "lang", "n_chars", budget=4000, order_col="doc_id")),
    }
    # the WARC pages, built untimed from the same documents
    blobs = spark.createDataFrame(warc_shards(docs_rows), "warc_shard bigint, blob binary")
    rules = spark.createDataFrame(ROBOTS_RULES, "host string, allow boolean, pattern string")
    out["operators.web.crawl_verdict_rows_s"] = timed(
        "operators.web.crawl_verdict_rows",
        lambda: crawl_verdict_rows(blobs, rules).select(F.count(F.lit(1))))
    return out

def _near_dup_layers(spark, data_dir: str, docs_rows: list[dict], tracer) -> dict:
    """The operators of q41 and q26, each timed on its own."""
    from atiesh_spark.operators.dedup import connected_components, minhash_lsh_pairs
    from atiesh_spark.sources.tables import load_table

    docs = load_table(spark, data_dir, "documents")
    t = time.perf_counter()
    with tracer.span("operators.dedup.minhash_lsh_pairs"):
        pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=32,
                                  bands=4).localCheckpoint()
        n_pairs = pairs.count()
    return {
        "operators.dedup.minhash_lsh_pairs_s": time.perf_counter() - t,
        "operators.dedup.candidate_pairs": float(n_pairs),
        "operators.dedup.connected_components_s": _timed(
            tracer, "operators.dedup.connected_components",
            lambda: connected_components(pairs, docs.select("doc_id"), "doc_id")),
    }


OPERATOR_LAYERS = {"stream_ingest": _filter_layers, "stream_batching": _near_dup_layers}


def probe(spark, workload: str, seed: int, work: str, tracer) -> dict:
    """Run ``workload``'s cells and their operators once on ``spark``;
    returns the per-layer metrics, the number of cells run and the
    number that failed or mismatched their oracle."""
    data_dir = os.path.join(work, "corpus")
    os.makedirs(data_dir)
    docs = gen.documents(seed, N_DOCS, DUP_SHARE, NEAR_SHARE)
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(data_dir, "documents.parquet"))

    cells = PROBES[workload]
    with tracer.span("corpus_pass"):
        secs, failed = _timed_pass(spark, data_dir, cells, tracer, "corpus_pass")
    jobs = _job_counts(spark, "corpus_pass")
    layers = OPERATOR_LAYERS[workload](spark, data_dir, docs, tracer)
    mismatched = _mismatched(spark, data_dir, [n for n in cells if n not in failed])
    if mismatched:
        print(f"# corpus cells not matching their oracle: {mismatched}")
    for n in cells:
        layers[f"plans.{n}_s"] = secs[n]
    for i, what in enumerate(("jobs", "stages", "tasks")):
        layers[f"spark.{what}_per_pass"] = float(jobs[i])
    return {"corpus_layers": layers, "corpus_cells": len(cells),
            "corpus_failed": len(failed) + len(mismatched)}
