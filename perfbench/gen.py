"""Seeded input generator for the benchmark.

Everything the benchmark feeds the system comes from here, as a pure
function of ``--seed`` and the phase name, so the oracle in
``checks.py`` can rebuild exactly what was offered. The generator
expands sf0.1: every field below that the ``events`` or ``documents``
table has is drawn from that table's empirical distribution, kept in
``sf_profile.json`` (written by ``sf_profile.py``).

Two kinds of input:

- **events** for the streaming workloads: json lines shaped like the
  ``events`` table (event_id, user_id, event_type, value; user_id,
  event_type and value drawn from sf0.1) plus a free-text ``text``
  payload drawn like an sf0.1 document (its length in words and its
  words), and two stamps: ``ts_ms`` (the logical event time, one
  millisecond per event, that drives the watermark) and ``due_ms`` (the
  wall-clock time at which the open-loop schedule was due to offer the
  event; 0 for pre-staged files). sf0.1 events carry no text, and its
  documents are lower-case and single-spaced; to give the ``normalize``
  interceptor work, a payload is rendered dirty: 16 % of its words
  re-cased, half the gaps widened to tabs, newlines or two spaces, and
  3 % of its words replaced by accented words written decomposed (NFD)
  half the time.
- **documents** for the corpus probe: the ``documents`` table shape
  (doc_id, text, lang, source, n_chars), drawn from sf0.1, with fixed
  shares of exact duplicates (equal after normalisation) and near
  duplicates.

Run as a script, this module is the open-loop load generator: a
separate single-threaded process that drops one file every
``--interval-ms`` on a fixed schedule (write to a staging directory,
then rename into the watched directory, so a reader never sees a
partial file), whatever the system under test is doing. On exit it
prints one json line with how late it ran. It starts the schedule when
it reads the start time (epoch milliseconds) as a line on stdin.
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import os
import random
import sys
import time
import unicodedata

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf_profile.json"),
          encoding="utf-8") as _fh:
    PROFILE = json.load(_fh)


class _Dist:
    """Draws a key of a ``{key: count}`` profile entry with its
    empirical frequency."""

    def __init__(self, counts: dict[str, int], cast=str) -> None:
        self.keys = [cast(k) for k in counts]
        self.cum = list(itertools.accumulate(counts.values()))

    def draw(self, rng: random.Random):
        return self.keys[bisect.bisect_right(self.cum, rng.random() * self.cum[-1])]

    def draw_many(self, rng: random.Random, k: int) -> list:
        return rng.choices(self.keys, cum_weights=self.cum, k=k)


_EV, _DOC = PROFILE["events"], PROFILE["documents"]
USER_ID = _Dist(_EV["user_id"], int)
EVENT_TYPE = _Dist(_EV["event_type"])
WORD = _Dist(_DOC["word"])
N_WORDS = _Dist(_DOC["n_words"], int)
LANG = _Dist(_DOC["lang"])
SOURCE = _Dist(_DOC["source"])
# Words that exercise Unicode normalisation: written decomposed (NFD) in
# half the inputs, so NFC folding is what makes two renderings equal.
ACCENTED = ("café", "naïve", "été", "résumé")

#: logical event time of sequence number 0 (2024-01-01T00:00:00Z)
BASE_TS_MS = 1_704_067_200_000
#: late events sit one day behind every on-time event, so a watermark
#: set by any earlier micro-batch drops them
LATE_OFFSET_MS = 86_400_000

#: phases of a stream run, in the order they are offered; each gets
#: its own event-id range so ids never collide across phases
PHASE_ID_BASE = {"warmup": 0, "backlog": 10_000_000, "openloop": 20_000_000}


def _rng(seed: int, *parts: object) -> random.Random:
    return random.Random(":".join(str(p) for p in (seed, *parts)))


def _value(rng: random.Random) -> float:
    """An sf0.1 ``value``: linear between two adjacent percentiles."""
    pct = _EV["value_percentiles"]
    x = rng.random() * (len(pct) - 1)
    i = int(x)
    lo, hi = pct[i], pct[min(i + 1, len(pct) - 1)]
    return round(lo + (hi - lo) * (x - i), 2)


#: how a word is rendered: (weight, how); weights in percent
_RENDER = ((3, "accented"), (8, "upper"), (8, "capitalize"), (81, "as is"))
_RENDER_CUM = list(itertools.accumulate(w for w, _ in _RENDER))
_SEPARATORS = (" ", " ", " ", "  ", "\t", " \n ")


def _dirty_text(rng: random.Random) -> str:
    """An sf0.1-shaped document text, rendered dirty (see the module
    docstring)."""
    n_words = N_WORDS.draw(rng)
    words = WORD.draw_many(rng, n_words)
    how = rng.choices([h for _, h in _RENDER], cum_weights=_RENDER_CUM, k=n_words)
    seps = rng.choices(_SEPARATORS, k=n_words - 1) + [""]
    parts = []
    for w, h, sep in zip(words, how, seps):
        if h == "accented":
            w = rng.choice(ACCENTED)
            w = unicodedata.normalize("NFD", w) if rng.random() < 0.5 else w
        elif h == "upper":
            w = w.upper()
        elif h == "capitalize":
            w = w.capitalize()
        parts.append(w)
        parts.append(sep)
    pad = rng.choice(("", "", "", " ", "\t"))
    return pad + "".join(parts) + pad


def events(
    seed: int,
    phase: str,
    count: int,
    replay_share: float = 0.0,
    late_share: float = 0.0,
) -> list[dict]:
    """``count`` events of one phase, in offer order.

    With ``replay_share`` a fixed share of the slots re-offers a recent
    event unchanged (a duplicate: same event_id and ts_ms), and with
    ``late_share`` a fixed share is a fresh event whose event time is a
    day behind (late). Each event carries ``kind`` ('new', 'dup' or
    'late') for the oracle; the system only sees the json fields.
    """
    rng = _rng(seed, "events", phase)
    first_id = PHASE_ID_BASE[phase]
    out: list[dict] = []
    next_id = first_id
    for _ in range(count):
        r = rng.random()
        fresh = [e for e in out[-64:] if e["kind"] == "new"]
        if r < replay_share and fresh:
            out.append(dict(rng.choice(fresh), kind="dup"))
            continue
        late = r < replay_share + late_share
        ts = BASE_TS_MS + next_id
        out.append(
            {
                "event_id": next_id,
                "user_id": USER_ID.draw(rng),
                "event_type": EVENT_TYPE.draw(rng),
                "value": _value(rng),
                "ts_ms": ts - LATE_OFFSET_MS if late else ts,
                "due_ms": 0,
                "text": _dirty_text(rng),
                "kind": "late" if late else "new",
            }
        )
        next_id += 1
    return out


def split_files(evts: list[dict], per_file: int) -> list[list[dict]]:
    return [evts[i : i + per_file] for i in range(0, len(evts), per_file)]


def json_lines(evts: list[dict]) -> str:
    return "".join(
        json.dumps({k: v for k, v in e.items() if k != "kind"}) + "\n"
        for e in evts
    )


def stage_drop(stage_dir: str, name: str, bodies: list[str]) -> str:
    """Write each of ``bodies`` as one file of a new directory ``name``
    under ``stage_dir``; returns the directory."""
    tmp = os.path.join(stage_dir, name)
    os.makedirs(tmp)
    for i, body in enumerate(bodies):
        with open(os.path.join(tmp, f"part-{i:04d}.json"), "w", encoding="utf-8") as fh:
            fh.write(body)
    return tmp


def drop(staged: str, watch_dir: str) -> None:
    """Rename a staged directory into ``watch_dir``. The rename is atomic
    on one file system, so the streaming source (which reads
    ``watch_dir/*``) lists either all of its files or none, and never a
    half-written one."""
    os.rename(staged, os.path.join(watch_dir, os.path.basename(staged)))


def documents(seed: int, n_docs: int, dup_share: float, near_share: float):
    """The ``documents`` table for the corpus probe.

    Original rows are drawn from sf0.1 (text length and words, lang,
    source; sf0.1 itself has 0.16 % exact-duplicate texts). A
    ``dup_share`` of the rows copies an earlier row's text with only
    case and whitespace changed (equal after normalisation, so exact
    dedup removes them); a ``near_share`` copies an earlier text with
    one word in 25 replaced (the MinHash-LSH candidates)."""
    rng = _rng(seed, "documents")
    rows = []
    for doc_id in range(n_docs):
        r = rng.random()
        if rows and r < dup_share:
            base = rng.choice(rows)["text"]
            text = "  ".join(
                w.upper() if rng.random() < 0.2 else w for w in base.split(" ")
            )
        elif rows and r < dup_share + near_share:
            words = rng.choice(rows)["text"].split(" ")
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = WORD.draw(rng)
            text = " ".join(words)
        else:
            text = " ".join(WORD.draw_many(rng, N_WORDS.draw(rng)))
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": LANG.draw(rng),
                "source": SOURCE.draw(rng),
                "n_chars": len(text),
            }
        )
    return rows


def open_loop_events(seed: int, rate: int, interval_ms: int, drops: int,
                     replay_share: float, late_share: float) -> list[list[dict]]:
    """The open-loop phase: ``drops`` files of ``rate * interval_ms``
    events each, file ``i`` due at ``i * interval_ms`` after the start."""
    per_file = max(1, rate * interval_ms // 1000)
    evts = events(seed, "openloop", per_file * drops, replay_share, late_share)
    return split_files(evts, per_file)


def stamp(files: list[list[dict]], start_ms: int, interval_ms: int) -> list[dict]:
    """The open-loop events with their due times: file ``i`` is due at
    ``start_ms + i * interval_ms``; a duplicate is a resend of its
    original, stamp included."""
    due_of: dict[int, int] = {}
    out = []
    for i, chunk in enumerate(files):
        for e in chunk:
            e = dict(e)
            if e["kind"] == "dup":
                e["due_ms"] = due_of[e["event_id"]]
            else:
                e["due_ms"] = due_of[e["event_id"]] = start_ms + i * interval_ms
            out.append(e)
    return out


def _run_open_loop(args: argparse.Namespace) -> None:
    files = open_loop_events(args.seed, args.rate, args.interval_ms, args.drops,
                             args.replay_share, args.late_share)
    # the schedule is computed before the start time is known, so the
    # start line can be sent at the moment the system is ready
    print("ready", flush=True)
    start_ms = int(sys.stdin.readline())
    stamped = stamp(files, start_ms, args.interval_ms)
    late_ms: list[float] = []
    pos = 0
    for i, chunk in enumerate(files):
        body = json_lines(stamped[pos : pos + len(chunk)])
        pos += len(chunk)
        due_ms = start_ms + i * args.interval_ms
        wait = due_ms / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        drop(stage_drop(args.stage, f"ol-{i:06d}", [body]), args.watch)
        late_ms.append(max(0.0, time.time() * 1000.0 - due_ms))
    late_ms.sort()
    print(json.dumps({
        "drops": len(late_ms),
        "generator_late_ms_p50": late_ms[len(late_ms) // 2],
        "generator_late_ms_max": late_ms[-1],
    }))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True, help="events per second")
    ap.add_argument("--interval-ms", type=int, required=True)
    ap.add_argument("--drops", type=int, required=True)
    ap.add_argument("--replay-share", type=float, default=0.0)
    ap.add_argument("--late-share", type=float, default=0.0)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--watch", required=True)
    _run_open_loop(ap.parse_args(argv))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
