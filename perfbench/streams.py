"""The two streaming workloads. Both read json-lines files from the
subdirectories of a watched directory (the source path is
``watch/*``); every drop is a directory of files, written under a
staging directory and renamed into ``watch`` whole, so a micro-batch
sees all of a drop or none of it.

``stream_ingest`` (the reference's stateless event-mover path): a native
spec goes through ``bootstrap.assemble`` and ``pipeline.Pipeline``: the
filter / transform / normalize / blocklist interceptors, then
first-accepted routing into two ``parquet_exactly_once`` sinks. Each
micro-batch is mostly fixed cost, with little kernel or state work.

``stream_batching`` (the reference's ``BatchSinkSemantics``): the offered
events include a fixed share of duplicates and late events; they go
through ``streaming_dedup`` with a watermark, then
``stateful_count_batcher`` (size and processing-time flush) into one
``parquet_exactly_once`` sink, on a processing-time trigger. This adds
state-store writes and no-data (timeout) micro-batches.

One run:

1. stage the backlog files; set up ``SETUPS`` times (get the session,
   start the query over one warm-up drop, wait until it committed its
   first micro-batch) and keep the last; only the first set-up starts
   the JVM, so ``setup_s``, the median, is a warm restart, and the
   first set-up is reported apart as ``session.setup_cold_s``;
2. throughput: in each of a few rounds, drop one pre-staged part of the
   backlog and time until all of it is committed;
3. latency: start the open-loop generator process; it drops one file
   every ``INTERVAL_MS`` at a fixed rate for ``--seconds``. An
   event's latency runs from its due time to the commit of the
   micro-batch whose ``__batch_id`` partition holds it (the progress
   timestamp plus ``triggerExecution``);
4. stop the query explicitly once all output has arrived (with an
   ``availableNow`` trigger the timeout batcher never terminates), then
   check every sink against the oracle.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import corpus
import gen
from checks import BLOCKLIST, DROPPED_TYPE, check_batching, check_ingest, read_sink
from harness import ProgressLog, RssSampler, commit_ms, iso_ms, median, quantile, session

SETUPS = 3
#: the warm-up events each set-up commits, in files of ``PER_FILE``: enough
#: that the JIT is warm before the timed backlog, and in enough files that
#: the scan has one partition per core, so the set-up starts every Python
#: worker the timed phases use
WARMUP_EVENTS = 3000
PER_FILE = 125
MAX_FILES_PER_TRIGGER = 40
#: the open loop's drop interval. Each drop costs a micro-batch a fixed
#: share of time whatever its size: at 10 drops/s (100 ms) and 500 ev/s,
#: the ingest micro-batches grew through the whole open loop (the source
#: fell behind), and its latency spread across runs was 2-3 times wider.
INTERVAL_MS = 250
#: an event committed later than this after its due time counts as failed
LATENCY_LIMIT_MS = 30_000

#: per workload: the backlog, dropped in ``rounds`` equal parts each
#: drained before the next (``events_per_s`` is all the rounds' committed
#: events over the sum of their drain times), the
#: open-loop rate (events/s, well under what the pipeline sustains, so
#: the backlog does not grow) and the shares of duplicate and late events
PARAMS = {
    "stream_ingest": {"backlog_files": 64, "rounds": 2, "rate": 500, "replay": 0.0, "late": 0.0},
    # one round: each round of the batcher ends on a timeout flush
    "stream_batching": {"backlog_files": 40, "rounds": 1, "rate": 250, "replay": 0.10,
                        "late": 0.05},
}
BATCH_SIZE = 400
TIMEOUT_MS = 1000
WATERMARK = "10 seconds"
BATCHING_TRIGGER = "1 second"
#: a fixed trigger keeps the open loop's micro-batches one size: with
#: "0 seconds" each batch held what arrived during the previous one, so
#: a slow stretch of the machine grew the batches and the latency spread
#: across runs by more than 0.25 of its median
INGEST_TRIGGER = "3 seconds"

INGEST, BATCHING = "ingest", "batching"

SOURCE_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, "
    "ts_ms BIGINT, due_ms BIGINT, text STRING"
)
INGEST_HEADERS = ["event_id", "event_type", "user_id", "due_ms"]

# durationMs parts of a micro-batch in the order MicroBatchExecution
# runs them; a traced batch span gets one child per part
BATCH_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
               "addBatch", "commitOffsets")


class Dirs:
    def __init__(self, work: str, tag: object) -> None:
        base = os.path.join(work, f"setup{tag}")
        self.watch = os.path.join(base, "watch")
        self.ckpt = os.path.join(base, "checkpoint")
        self.out = {n: os.path.join(base, "out", n) for n in ("alerts", "main", "flushes")}
        os.makedirs(self.watch)


def ingest_spec(d: Dirs) -> dict:
    return {
        "sources": {
            "events": {
                "type": "json", "path": os.path.join(d.watch, "*"), "schema": SOURCE_SCHEMA,
                "value_col": "text", "header_cols": INGEST_HEADERS,
                "max_files_per_trigger": MAX_FILES_PER_TRIGGER,
            }
        },
        "interceptors": {
            "no_views": {"type": "filter",
                         "predicate": f"headers['event_type'] <> '{DROPPED_TYPE}'"},
            "bucket": {"type": "transform", "exprs": {
                "headers": "map_concat(headers, map('bucket', "
                           "CAST(CAST(headers['user_id'] AS BIGINT) % 16 AS STRING)))"}},
            "normalize": {"type": "normalize"},
            "blocklist": {"type": "blocklist", "patterns": BLOCKLIST},
        },
        "sinks": {
            "alerts": {"type": "parquet_exactly_once", "path": d.out["alerts"],
                       "accept": "headers['event_type'] = 'error'"},
            "main": {"type": "parquet_exactly_once", "path": d.out["main"],
                     "accept": "CAST(headers['user_id'] AS BIGINT) % 10 <> 0"},
        },
        "pipelines": [{
            "name": INGEST, "source": "events",
            "interceptors": ["no_views", "bucket", "normalize", "blocklist"],
            "sinks": ["alerts", "main"],
            "trigger": {"processingTime": INGEST_TRIGGER},
            "checkpoint": d.ckpt,
        }],
    }


def start_ingest(spark, d: Dirs, work: str, tracer):
    from atiesh_spark.bootstrap import assemble

    spec_path = os.path.join(work, "ingest.json")
    with open(spec_path, "w", encoding="utf-8") as fh:
        json.dump(ingest_spec(d), fh)
    with tracer.span("bootstrap.assemble"):
        pipe = assemble(spark, spec_path)
    with tracer.span("pipeline.Pipeline.start"):
        (query,) = pipe.start()
    return query


def start_batching(spark, d: Dirs, tracer):
    from pyspark.sql import functions as F

    from atiesh_spark.streaming.sinks import build_sink_writer
    from atiesh_spark.streaming.sources import build_source
    from atiesh_spark.streaming.stateful import stateful_count_batcher, streaming_dedup

    h = F.col("headers")
    with tracer.span("streaming.sources.build_source"):
        raw = build_source(spark, {
            "type": "json", "path": os.path.join(d.watch, "*"), "schema": SOURCE_SCHEMA,
            "value_col": "text", "header_cols": ["event_id", "event_type", "ts_ms", "due_ms"],
            "max_files_per_trigger": MAX_FILES_PER_TRIGGER,
        })
    events = raw.select(
        h["event_id"].cast("long").alias("event_id"),
        h["event_type"].alias("tag"),
        F.timestamp_millis(h["ts_ms"].cast("long")).alias("event_ts"),
        F.concat_ws("|", h["event_id"], h["due_ms"],
                    F.regexp_replace("value", r"\s+", " ")).alias("value"),
    )
    with tracer.span("streaming.stateful.streaming_dedup"):
        deduped = streaming_dedup(events, ["event_id"], ts_col="event_ts",
                                  watermark_delay=WATERMARK)
    with tracer.span("streaming.stateful.stateful_count_batcher"):
        batched = stateful_count_batcher(deduped, "tag", "value",
                                         batch_size=BATCH_SIZE, timeout_ms=TIMEOUT_MS)
    with tracer.span("streaming.sinks.build_sink_writer"):
        writer = build_sink_writer({"type": "parquet_exactly_once", "path": d.out["flushes"]})
    with tracer.span("DataStreamWriter.start"):
        return (
            batched.writeStream.foreachBatch(writer)
            .trigger(processingTime=BATCHING_TRIGGER)
            .option("checkpointLocation", d.ckpt)
            .queryName(BATCHING)
            .start()
        )


def _batcher_settled(log: ProgressLog, offered: int) -> bool:
    """True once the batching query has read all ``offered`` lines and a
    micro-batch from then on ended with the batcher's state empty (every
    buffer flushed by size or timeout)."""
    read = 0
    for rec in log.progress(BATCHING):
        read += rec["numInputRows"]
        batcher = [o for o in rec["stateOperators"] if "dedup" not in o["operatorName"].lower()]
        if read == offered and batcher and all(o["numRowsTotal"] == 0 for o in batcher):
            return True
    return False


def _settle(name: str, query, log: ProgressLog, offered: int, timeout_s: float = 60.0) -> None:
    """Wait until the query committed everything offered so far.

    The ingest query uses ``processAllAvailable`` (on a thread, so the
    wait is bounded). The batcher cannot: with a processing-time timeout
    it runs a no-data micro-batch on every trigger, so it never reports
    that it has no new data; its progress records are counted instead.
    """
    deadline = time.monotonic() + timeout_s
    if name == INGEST:
        waiter = threading.Thread(target=query.processAllAvailable, daemon=True)
        waiter.start()
        done = lambda: not waiter.is_alive()  # noqa: E731
    else:
        done = lambda: _batcher_settled(log, offered)  # noqa: E731
    while not done():
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        if time.monotonic() > deadline:
            raise TimeoutError(f"{name} did not commit {offered} offered events in time")
        time.sleep(0.05)


def _set_up(name: str, i: int, work: str, stage: str, warm: list[dict], tracer):
    """One set-up: ``get_spark`` until the query committed its first
    micro-batch. The first starts the JVM and the session; later ones
    get the live session back, as ``getOrCreate`` does for a second
    pipeline in one process. Returns (seconds, spark, query, log, dirs)."""
    d = Dirs(work, i)
    files = [gen.json_lines(chunk) for chunk in gen.split_files(warm, PER_FILE)]
    gen.drop(gen.stage_drop(stage, f"warmup{i}", files), d.watch)
    t0 = time.time()
    with tracer.span("setup", index=i):
        with tracer.span("session.get_spark"):
            spark = session(work, f"stream_{name}")
        log = ProgressLog()
        spark.streams.addListener(log)
        query = (start_ingest(spark, d, work, tracer) if name == INGEST
                 else start_batching(spark, d, tracer))
        with tracer.span("first_commit"):
            log.wait_for(name, 0)
    return commit_ms(log.records[(name, 0)]) / 1000.0 - t0, spark, query, log, d


def _delivered(name: str, d: Dirs) -> tuple[list[dict], list[tuple]]:
    """The sink rows, and (event_id, due_ms, micro-batch id) of every
    event they deliver."""
    if name == INGEST:
        rows = {n: read_sink(d.out[n]) for n in ("alerts", "main")}
        return rows, [
            (int(h["event_id"]), int(h["due_ms"]), r["__batch_id"])
            for sink_rows in rows.values() for r in sink_rows for h in (dict(r["headers"]),)
        ]
    flushes = read_sink(d.out["flushes"])
    out = []
    for f in flushes:
        for line in f["body"].split("\n"):
            eid, due, _ = line.split("|", 2)
            out.append((int(eid), int(due), f["__batch_id"]))
    return flushes, out


def run(workload: str, seed: int, seconds: float, work: str, tracer) -> dict:
    name = INGEST if workload == "stream_ingest" else BATCHING
    p = PARAMS[workload]
    warm = gen.events(seed, "warmup", WARMUP_EVENTS)
    backlog = gen.events(seed, "backlog", p["backlog_files"] * PER_FILE, p["replay"], p["late"])
    drops = max(1, int(seconds * 1000 / INTERVAL_MS))
    ol_files = gen.open_loop_events(seed, p["rate"], INTERVAL_MS, drops, p["replay"], p["late"])
    stage = os.path.join(work, "stage")
    os.makedirs(stage)
    # each backlog round is one staged directory, so it appears whole
    per_round = p["backlog_files"] // p["rounds"]
    files = [gen.json_lines(chunk) for chunk in gen.split_files(backlog, PER_FILE)]
    rounds = [gen.stage_drop(stage, f"bl-{r}", files[r * per_round:(r + 1) * per_round])
              for r in range(p["rounds"])]

    rss = RssSampler()
    setup_s: list[float] = []
    spark = gen_proc = query = None
    extra = {}
    try:
        for i in range(SETUPS):
            secs, spark, query, log, d = _set_up(name, i, work, stage, warm, tracer)
            setup_s.append(secs)
            if i < SETUPS - 1:
                query.stop()
                spark.streams.removeListener(log)
        # peak RSS while the kept pipeline serves the backlog and the open loop
        rss.attach(spark)

        for r, staged in enumerate(rounds):
            with tracer.span("throughput", round=r):
                gen.drop(staged, d.watch)
                _settle(name, query, log, len(warm) + (r + 1) * per_round * PER_FILE)

        gen_proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"),
             "--seed", str(seed), "--rate", str(p["rate"]), "--interval-ms", str(INTERVAL_MS),
             "--drops", str(drops), "--replay-share", str(p["replay"]),
             "--late-share", str(p["late"]), "--stage", stage, "--watch", d.watch],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        if gen_proc.stdout.readline().strip() != "ready":
            raise RuntimeError("the generator failed to start")
        with tracer.span("open_loop"):
            start_ms = int(time.time() * 1000) + 50
            gen_proc.stdin.write(f"{start_ms}\n")
            gen_proc.stdin.flush()
            gen_out, _ = gen_proc.communicate(timeout=seconds + 60)
            if gen_proc.returncode != 0:
                raise RuntimeError(f"the generator exited with {gen_proc.returncode}")
            _settle(name, query, log, len(warm) + len(backlog) + sum(map(len, ol_files)))
        last = query.lastProgress["batchId"]
        query.stop()
        log.wait_for(name, last)
        peak_rss_mb = rss.stop()
        if tracer.enabled:
            if name == INGEST:
                extra = _replay(spark, backlog[: PER_FILE * MAX_FILES_PER_TRIGGER], work, tracer)
            extra.update(corpus.probe(spark, workload, seed, work, tracer))
    finally:
        if gen_proc is not None and gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        if query is not None and query.isActive:
            query.stop()
        rss.stop()
        if spark is not None:
            spark.stop()

    generator = json.loads(gen_out.strip().splitlines()[-1])
    offered = warm + backlog + gen.stamp(ol_files, start_ms, INTERVAL_MS)
    starts = {b: iso_ms(rec["timestamp"]) for (_, b), rec in log.records.items()}
    commits = {b: commit_ms(rec) for (_, b), rec in log.records.items()}
    rows, delivered = _delivered(name, d)
    check = (check_ingest(offered, rows) if name == INGEST
             else check_batching(offered, rows, BATCH_SIZE))

    # each backlog round drains from the start of the first micro-batch
    # that delivers any of it (a round is read by one micro-batch, which
    # also makes the batcher's first size flushes) to its last commit;
    # the wait for the next trigger after the drop is not counted
    round_of = {e["event_id"]: i * p["rounds"] // len(backlog)
                for i, e in enumerate(backlog) if e["kind"] != "dup"}
    done = [[] for _ in range(p["rounds"])]
    for eid, _, b in delivered:
        if eid in round_of:
            done[round_of[eid]].append(b)
    drain_s = [(max(commits[b] for b in bs) - min(starts[b] for b in bs)) / 1000.0
               for bs in done]
    latency = [commits[b] - due for eid, due, b in delivered
               if eid >= gen.PHASE_ID_BASE["openloop"]]
    over_limit = sum(1 for x in latency if x > LATENCY_LIMIT_MS)
    failed = check["lost"] + check["unexpected"] + check.get("bad_flushes", 0) + over_limit

    metrics = {
        "setup_s": median(setup_s),
        "events_per_s": sum(map(len, done)) / sum(drain_s),
        "latency_p50_ms": quantile(latency, 0.50),
        "latency_p99_ms": quantile(latency, 0.99),
        "peak_rss_mb": peak_rss_mb,
    }
    info = {
        "setup_s_each": setup_s, "check": check, "over_latency_limit": over_limit,
        "latency_samples": len(latency), "backlog_committed": [len(c) for c in done],
        "drain_s_each": drain_s, "drain_s": sum(drain_s),
        "offered_rate_per_s": p["rate"], "open_loop_s": drops * INTERVAL_MS / 1000.0,
        "generator": generator, "batches": len(log.records), "rss_at_peak_kb": rss.peak_parts,
        # (rows, triggerExecution ms) of each open-loop micro-batch
        "open_loop_rows_ms": [[r["numInputRows"], r["durationMs"].get("triggerExecution")]
                              for r in log.progress(name) if iso_ms(r["timestamp"]) >= start_ms],
    }
    layers = {}
    if tracer.enabled:
        scanned = [sum(e["event_type"] != DROPPED_TYPE or name == BATCHING for e in f)
                   for f in ol_files]
        layers = _layers(name, log, start_ms, scanned, rows, extra, generator)
        layers["session.setup_cold_s"] = setup_s[0]
        _batch_spans(tracer, log)
    attempted = len(offered) + extra.get("corpus_cells", 0)
    return {"attempted": attempted, "failed": failed + extra.get("corpus_failed", 0),
            "metrics": metrics, "layers": layers, "info": info}


def _replay(spark, events: list[dict], work: str, tracer) -> dict:
    """Replay one batch-sized static frame through the ingest pipeline's
    interceptor chain, routing and sink writers, materialising after
    each, so ``addBatch`` splits into per-layer self times."""
    from pyspark.sql import functions as F

    from atiesh_spark.operators.routing import route_first_accepted
    from atiesh_spark.streaming.interceptors import build_interceptor_chain
    from atiesh_spark.streaming.sinks import build_sink_writer

    d = Dirs(work, "_replay")
    path = os.path.join(d.watch, "batch.json")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(gen.json_lines(events))
    spec = ingest_spec(d)
    pipe = spec["pipelines"][0]
    chain = [spec["interceptors"][n] for n in pipe["interceptors"]]
    out = {}
    with tracer.span("replay_batch"):
        t = time.perf_counter()
        with tracer.span("source_read"):
            pairs = [x for h in INGEST_HEADERS for x in (F.lit(h), F.col(h).cast("string"))]
            frame = spark.read.schema(SOURCE_SCHEMA).json(path).select(
                F.col("text").alias("value"), F.create_map(*pairs).alias("headers")).cache()
            n_in = frame.count()
        out["source_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("streaming.interceptors.build_interceptor_chain"):
            chained = build_interceptor_chain(frame, chain).cache()
            n_kept = chained.count()
        out["interceptors_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("operators.routing.route_first_accepted"):
            rules = [(n, F.expr(spec["sinks"][n]["accept"])) for n in pipe["sinks"]]
            routed = route_first_accepted(chained, rules).cache()
            routed.count()
        out["routing_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for n in pipe["sinks"]:
            with tracer.span(f"streaming.sinks.{n}"):
                build_sink_writer(spec["sinks"][n])(
                    routed.filter(F.col("route") == n).drop("route"), 0)
        out["sinks_s"] = time.perf_counter() - t
    out["kept_ratio"] = n_kept / n_in
    for df in (routed, chained, frame):
        df.unpersist()
    return out


def _layers(name, log, start_ms, scanned, rows, extra, generator) -> dict:
    """Per-layer numbers of one traced run. ``scanned[i]`` is how many
    rows of open-loop file ``i`` the scan reads (the ingest filter is
    pushed into the scan, so there the dropped type never counts as input)."""
    recs = [r for r in log.progress(name) if r["batchId"] > 0]
    data = [r for r in recs if r["numInputRows"] > 0]

    def dur(batches, part):
        return [r["durationMs"].get(part, 0) for r in batches]

    # how far reading lags the newest input: rows the open loop had
    # dropped by a batch's start that no earlier batch had read
    lag, read = [0], 0
    for r in data:
        t = iso_ms(r["timestamp"])
        if t < start_ms:
            continue
        dropped = min(int((t - start_ms) // INTERVAL_MS) + 1, len(scanned))
        lag.append(max(0, sum(scanned[:dropped]) - read))
        read += r["numInputRows"]
    triggers = dur(data, "triggerExecution")
    out = {
        "streaming.sources.latest_offset_ms": median(dur(data, "latestOffset")),
        "streaming.sources.get_batch_ms": median(dur(data, "getBatch")),
        "streaming.sources.backlog_events_max": float(max(lag)),
        "pipeline.query_planning_ms": median(dur(data, "queryPlanning")),
        "pipeline.add_batch_ms": median(dur(data, "addBatch")),
        "pipeline.trigger_ms_p50": quantile(triggers, 0.50),
        "pipeline.trigger_ms_p99": quantile(triggers, 0.99),
        "pipeline.rows_per_batch": median([r["numInputRows"] for r in data]),
        "pipeline.batches": float(len(recs)),
        "checkpoint.wal_commit_ms": median(dur(data, "walCommit")),
        "checkpoint.commit_offsets_ms": median(dur(data, "commitOffsets")),
        "generator.late_ms_max": generator["generator_late_ms_max"],
    }
    if name == INGEST:
        out.update({
            "streaming.interceptors.kept_ratio": extra["kept_ratio"],
            "streaming.interceptors.replay_s": extra["interceptors_s"],
            "operators.routing.replay_s": extra["routing_s"],
            "streaming.sinks.replay_s": extra["sinks_s"],
            "operators.routing.rows.alerts": float(len(rows["alerts"])),
            "operators.routing.rows.main": float(len(rows["main"])),
        })
        out.update(extra["corpus_layers"])
        return out
    out.update(extra["corpus_layers"])

    ops = [o for r in recs for o in r["stateOperators"]]
    no_data = [r for r in recs if r["numInputRows"] == 0 and "addBatch" in r["durationMs"]]

    def per_batch(field):
        return [sum(o[field] for o in r["stateOperators"]) for r in recs]

    out.update({
        "streaming.stateful.state_rows": float(max(per_batch("numRowsTotal"), default=0)),
        "streaming.stateful.state_bytes": float(max(per_batch("memoryUsedBytes"), default=0)),
        "streaming.stateful.state_commit_ms": median(per_batch("commitTimeMs")),
        "streaming.stateful.no_data_batches": float(len(no_data)),
        "streaming.stateful.no_data_batch_ms": median(dur(no_data, "triggerExecution")),
        "streaming.stateful.flushes_size": float(sum(f["flush_reason"] == "size" for f in rows)),
        "streaming.stateful.flushes_timeout": float(
            sum(f["flush_reason"] == "timeout" for f in rows)),
        "streaming.stateful.dropped_by_watermark": float(
            sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)),
        "streaming.stateful.duplicates_dropped": float(
            sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops)),
    })
    return out


def _batch_spans(tracer, log: ProgressLog) -> None:
    """One span per micro-batch (progress timestamp to commit) with one
    child per ``durationMs`` part, laid end to end in execution order and
    clipped to the batch, so the children's and the batch's self times
    add up to the batch's duration. Times move onto the tracer's clock."""
    offset = time.perf_counter() - time.time()
    for (query, batch_id), rec in sorted(log.records.items()):
        start = iso_ms(rec["timestamp"]) / 1000.0 + offset
        end = start + rec["durationMs"].get("triggerExecution", 0) / 1000.0
        parent = tracer.add("micro_batch", start, end, None, query=query, batch_id=batch_id)
        cur = start
        for part in BATCH_PARTS:
            ms = rec["durationMs"].get(part)
            if ms is None:
                continue
            nxt = min(cur + ms / 1000.0, end)
            tracer.add(f"micro_batch.{part}", cur, nxt, parent, query=query, batch_id=batch_id)
            cur = nxt
