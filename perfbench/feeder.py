"""Open-loop feed generator.

Publishes pre-generated change-log chunks into the engine's feed
directory on a fixed schedule: chunk ``i`` is due at ``start_ms + i *
interval_ms`` whatever the engine is doing. Publishing is an mtime touch
plus an atomic rename. The generator never waits on the consumer; when it
itself runs late, later chunks keep their original due times and the
lateness is recorded, so freshness is always timed from the due time.

Run as a process: ``python3 feeder.py <plan.json> <out.json>``. The plan
holds ``start_ms``, ``interval_ms`` and ``moves`` (``[src, dst]`` pairs).
"""

from __future__ import annotations

import json
import os
import sys
import time


def due_times(start_ms: float, interval_ms: float, n: int) -> list[float]:
    return [start_ms + i * interval_ms for i in range(n)]


def publish(src: str, dst: str) -> None:
    os.utime(src)  # the file source orders and ages files by mtime
    os.rename(src, dst)


def run(plan: dict, clock=time.time, sleep=time.sleep, move=publish) -> list[dict]:
    """Execute ``plan``; returns one ``{due_ms, sent_ms}`` record per move."""
    moves = plan["moves"]
    records = []
    for due, (src, dst) in zip(
        due_times(plan["start_ms"], plan["interval_ms"], len(moves)), moves
    ):
        wait = due / 1e3 - clock()
        if wait > 0:
            sleep(wait)
        move(src, dst)
        records.append({"due_ms": due, "sent_ms": clock() * 1e3})
    return records


def main() -> int:
    plan_path, out_path = sys.argv[1], sys.argv[2]
    with open(plan_path) as fh:
        plan = json.load(fh)
    records = run(plan)
    with open(out_path + ".tmp", "w") as fh:
        json.dump(records, fh)
    os.rename(out_path + ".tmp", out_path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
