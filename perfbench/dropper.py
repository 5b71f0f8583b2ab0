"""Open-loop load generator for the trade stream.

Moves staged wire files into the watched directory one at a time on a
fixed schedule: file ``i`` is due at ``start + i * interval``. It never
waits for the engine, so a slow engine meets a growing backlog rather
than a slower source. Each rename is atomic (same filesystem), so the
file source never sees a partial file.

Writes one JSON object to ``--out``: the start time and, per file, its
name, due time and actual send time (wall clock, seconds).

    python3 dropper.py --src STAGED --dst WATCHED --interval 0.1 --out times.json
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    names = sorted(os.listdir(args.src))
    start = time.time() + 0.05
    sent = []
    for i, name in enumerate(names):
        due = start + i * args.interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(args.src, name), os.path.join(args.dst, name))
        sent.append({"file": name, "due": due, "sent": time.time()})
    with open(args.out, "w") as fh:
        json.dump({"start": start, "files": sent}, fh)


if __name__ == "__main__":
    main()
