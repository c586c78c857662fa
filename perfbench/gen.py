"""Open-loop change-event generator, run as its own process.

Writes one file of change events every ``--interval`` seconds, starting at
the absolute time ``--start``, whatever the engine is doing. Each event is
stamped with the time its file was due, so publish lag counts any stall the
engine imposed on later events. On exit it writes how late each write ran.

    python3 perfbench/gen.py --out DIR --report FILE --seed N --start EPOCH \
        --interval 0.05 --files 100 --per-file 4 --first-id 0
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datagen import change_event, payloads, write_event_file  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--report", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--interval", type=float, required=True)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--per-file", type=int, required=True)
    p.add_argument("--first-id", type=int, default=0)
    a = p.parse_args(argv)
    body = payloads(a.seed, a.files * a.per_file)
    late_ms = []
    for f in range(a.files):
        due = a.start + f * a.interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        late_ms.append((time.time() - due) * 1000.0)
        first = a.first_id + f * a.per_file
        lines = [
            change_event(i, "openloop", due, body[i - a.first_id])
            for i in range(first, first + a.per_file)
        ]
        write_event_file(os.path.join(a.out, f"part-{f:05d}.json"), lines)
    with open(a.report, "w") as fh:
        json.dump({"late_ms": late_ms}, fh)


if __name__ == "__main__":
    main()
