"""Open-loop post generator for the stream_steady workload.

A single-threaded process separate from the service. Every ``TICK``
seconds from ``--start-at`` it writes the ``RATE * TICK`` posts due in
that tick to one file, atomically (a dot-file renamed into place; the file
source skips dot-files), whether or not the service keeps up. Each post
carries its due time in ``created_at``. At the end it writes a report with the due time,
lateness and post count of every file.

    python3 perfbench/generator.py --out DIR --corpus FILE --seed N \
        --start-at EPOCH --seconds 14 --report FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datagen import iso, post_lines  # noqa: E402

RATE = 500      # posts/s offered
TICK = 0.1      # s between files


def schedule(seed: int, texts: list[str], start_at: float, seconds: float):
    """Yield ``(due, lines)`` per tick: the fixed schedule, independent of
    when the generator gets to write each file."""
    per_tick = round(RATE * TICK)
    n_ticks = int(seconds / TICK)
    lines = post_lines(seed, texts, per_tick * n_ticks,
                       lambda slot: iso(start_at + slot // per_tick * TICK))
    for k in range(n_ticks):
        yield start_at + k * TICK, lines[k * per_tick:(k + 1) * per_tick]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start-at", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args(argv)
    with open(a.corpus) as f:
        texts = f.read().splitlines()
    files = []
    for k, (due, lines) in enumerate(schedule(a.seed, texts, a.start_at,
                                              a.seconds)):
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(a.out, f".posts-{k:06d}.json")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(a.out, f"posts-{k:06d}.json"))
        files.append({"due": due, "late": time.time() - due, "posts": len(lines)})
    with open(a.report, "w") as f:
        json.dump(files, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
