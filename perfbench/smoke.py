"""Smoke tests for the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/smoke.py -q -p no:cacheprovider

The file is named so that a plain `pytest` run from the repo root does
not collect it; name it on the command line to run it. The tiny
end-to-end runs start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_inputs_depend_only_on_the_seed():
    assert gen.events(7, "backlog", 300, 0.1, 0.05) == gen.events(7, "backlog", 300, 0.1, 0.05)
    assert gen.events(7, "backlog", 300) != gen.events(8, "backlog", 300)
    assert gen.documents(7, 50, 0.1, 0.1) == gen.documents(7, 50, 0.1, 0.1)


def test_events_and_documents_follow_the_sf01_profile():
    evts = gen.events(7, "backlog", 5000)
    assert {e["event_type"] for e in evts} == set(gen.PROFILE["events"]["event_type"])
    assert {str(e["user_id"]) for e in evts} <= set(gen.PROFILE["events"]["user_id"])
    # sf0.1 has 10 % of its events on a user id divisible by 10
    assert 0.08 < sum(e["user_id"] % 10 == 0 for e in evts) / len(evts) < 0.12
    docs = gen.documents(7, 300, 0.0, 0.0)
    words = {w for d in docs for w in d["text"].split()}
    assert words <= set(gen.PROFILE["documents"]["word"])
    assert {d["lang"] for d in docs} <= set(gen.PROFILE["documents"]["lang"])


def test_a_drop_appears_whole(tmp_path):
    stage, watch = tmp_path / "stage", tmp_path / "watch"
    stage.mkdir()
    watch.mkdir()
    staged = gen.stage_drop(str(stage), "d1", ["a\n", "b\n"])
    assert list(watch.iterdir()) == []
    gen.drop(staged, str(watch))
    assert sorted(p.name for p in (watch / "d1").iterdir()) == ["part-0000.json",
                                                               "part-0001.json"]


def test_replayed_events_share_their_originals_id_and_due_time():
    files = gen.open_loop_events(3, 500, 100, 20, 0.2, 0.1)
    stamped = gen.stamp(files, 1_000, 100)
    kinds = {e["kind"] for e in stamped}
    assert kinds == {"new", "dup", "late"}
    first = {}
    for e in stamped:
        if e["kind"] == "dup":
            assert first[e["event_id"]]["due_ms"] == e["due_ms"]
            assert first[e["event_id"]]["text"] == e["text"]
        else:
            first[e["event_id"]] = e
            assert (e["ts_ms"] < gen.BASE_TS_MS) == (e["kind"] == "late")


def test_ingest_check_counts_lost_and_unexpected_rows():
    offered = gen.events(5, "warmup", 200)
    sinks = {"alerts": [], "main": []}
    for e in offered:
        routed = checks.ingest_route(e)
        if routed:
            headers = [("event_id", str(e["event_id"])), ("due_ms", "0"),
                       ("bucket", str(e["user_id"] % 16))]
            sinks[routed[0]].append({"value": routed[1], "headers": headers})
    assert checks.check_ingest(offered, sinks)["lost"] == 0
    moved = sinks["main"].pop()
    sinks["alerts"].append(moved)
    got = checks.check_ingest(offered, sinks)
    assert (got["lost"], got["unexpected"]) == (1, 1)


def test_batching_check_rejects_short_size_flushes_and_duplicates():
    offered = [e for e in gen.events(5, "backlog", 40, 0.2, 0.1)]
    lines = {}
    for e in offered:
        if e["kind"] == "new":
            lines.setdefault(e["event_type"], []).append(checks.batching_line(e))
    flushes = [{"tag": t, "body": "\n".join(ls), "n_events": len(ls), "flush_reason": "timeout"}
               for t, ls in lines.items()]
    ok = checks.check_batching(offered, flushes, batch_size=1000)
    assert (ok["lost"], ok["unexpected"], ok["bad_flushes"]) == (0, 0, 0)
    dup = dict(flushes[0], flush_reason="size")
    bad = checks.check_batching(offered, flushes + [dup], batch_size=1000)
    assert bad["bad_flushes"] == 1 and bad["unexpected"] == dup["n_events"]


def test_span_self_times_add_up_to_their_parents():
    tracer = harness.Tracer(enabled=True)
    with tracer.span("root"):
        with tracer.span("a"):
            with tracer.span("a1"):
                pass
        with tracer.span("b"):
            pass
    parent = tracer.add("micro_batch", 10.0, 11.0, None)
    tracer.add("micro_batch.addBatch", 10.0, 10.7, parent)
    tracer.add("micro_batch.commitOffsets", 10.7, 10.9, parent)
    selfs = tracer.self_times()
    for root in (s for s in tracer.spans if s["parent"] is None):
        subtree, todo = [], [root["id"]]
        while todo:
            sid = todo.pop()
            subtree.append(sid)
            todo.extend(s["id"] for s in tracer.spans if s["parent"] == sid)
        assert sum(selfs[i] for i in subtree) == pytest.approx(root["end"] - root["start"])


def test_a_directory_without_the_package_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload,trace", [
    ("stream_ingest", 0), ("stream_ingest", 1), ("stream_batching", 1),
])
def test_a_tiny_run_is_correct_and_reports_every_metric(workload, trace, monkeypatch, capsys):
    import corpus
    import run
    import streams

    monkeypatch.setattr(streams, "SETUPS", 2)
    monkeypatch.setattr(streams, "WARMUP_EVENTS", 50)
    params = streams.PARAMS[workload]
    monkeypatch.setitem(streams.PARAMS, workload, dict(params, backlog_files=params["rounds"]))
    monkeypatch.setattr(corpus, "N_DOCS", 60)
    assert run.main(["--workload", workload, "--seed", "4", "--seconds", "1",
                     "--trace", str(trace)]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    expected = run.metric_units("per_layer" if trace else "end_to_end")
    assert set(result["metrics"]) == set(expected)
