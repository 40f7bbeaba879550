"""Derive the generator's input profile from the ``events`` and
``documents`` tables of a testdata directory.

    python3 perfbench/sf_profile.py <testdata>/sf0.1 > perfbench/sf_profile.json

The benchmark may read only its own checkout, so it cannot open the
testdata tables while it runs; ``gen.py`` instead samples from the
empirical distributions kept here (the committed profile is that of
sf0.1) and expands them by seed. Kept per table:

- events: the counts of each ``user_id``, each ``event_type`` and each
  ``props.k``, and the percentiles of ``value``;
- documents: the counts of each word, of each text length in words, of
  each ``lang`` and ``source``, and the share of exact-duplicate texts.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter


def profile(data_dir: str) -> dict:
    import pandas as pd

    ev = pd.read_parquet(os.path.join(data_dir, "events.parquet"))
    docs = pd.read_parquet(os.path.join(data_dir, "documents.parquet"))
    words = docs["text"].str.split()
    props_k = ev["props"].map(lambda p: json.loads(p)["k"])
    return {
        "dataset": os.path.basename(os.path.normpath(data_dir)),
        "events": {
            "rows": len(ev),
            "user_id": _counts(ev["user_id"]),
            "event_type": _counts(ev["event_type"]),
            "props_k": _counts(props_k),
            "value_percentiles": [
                round(float(ev["value"].quantile(q / 100)), 2) for q in range(101)
            ],
        },
        "documents": {
            "rows": len(docs),
            "word": dict(Counter(w for ws in words for w in ws).most_common()),
            "n_words": _counts(words.str.len()),
            "lang": _counts(docs["lang"]),
            "source": _counts(docs["source"]),
            "exact_dup_share": float(docs["text"].duplicated().mean()),
        },
    }


def _counts(series) -> dict[str, int]:
    """Value counts as a json object, keys in sorted order."""
    return {str(k): int(v) for k, v in sorted(series.value_counts().items())}


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.split("\n\n")[1].strip(), file=sys.stderr)
        return 2
    json.dump(profile(argv[0]), sys.stdout, separators=(",", ":"))
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
