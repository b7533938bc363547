"""Open-loop file generator for the ``watch_tail`` workload.

Runs as its own process so that a slow engine cannot slow it. File ``k``
is due at a fixed wall-clock time and becomes visible then, by an atomic
rename, whether or not the engine has kept up. Spark's processing-time
trigger fires on multiples of the poll interval since the epoch, so due
times are laid out on that clock: ``per_period`` files per interval,
each at its own phase inside its own slot, kept off the trigger
instants themselves (the first and last 5% of an interval), where a file
would land in either of two batches by chance.

    python3 perfbench/feeder.py --dir D --seed S --t0 T --period P \\
        --per-period M --count N --records R --out result.json
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import records  # noqa: E402

ARRIVAL_SPREAD_US = 200_000  # records arrive over the 200 ms before their file is cut
_GOLDEN = (5 ** 0.5 - 1) / 2


def due_times(seed: int, t0: float, period: float, per_period: int, count: int) -> list[float]:
    """File ``k`` is due in slot ``k % per_period`` of interval ``k //
    per_period``. Its place inside the slot follows a golden-ratio
    sequence over intervals, started at a seeded offset. That spreads the
    phases evenly in every run, so the trigger wait (most of a file's
    latency) has nearly the same distribution whatever the seed."""
    start = random.Random(seed ^ 0x5EED).random()
    out = []
    for k in range(count):
        interval, slot = divmod(k, per_period)
        inside = (start + interval * _GOLDEN) % 1.0
        out.append(t0 + interval * period + period * (0.05 + 0.9 * (slot + inside) / per_period))
    return out


def file_name(file_no: int) -> str:
    return f"part-{file_no:05d}.parquet"


def live_records(seed: int, file_no: int, n: int, due: float) -> list[tuple]:
    return records.file_records(seed, file_no, n, int(due * 1_000_000), ARRIVAL_SPREAD_US)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--dir", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--first-file", type=int, default=0)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--period", type=float, required=True)
    p.add_argument("--per-period", type=int, required=True)
    p.add_argument("--count", type=int, required=True)
    p.add_argument("--records", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)

    late_ms = []
    for k, due in enumerate(due_times(a.seed, a.t0, a.period, a.per_period, a.count)):
        file_no = a.first_file + k
        recs = live_records(a.seed, file_no, a.records, due)
        tmp = os.path.join(a.dir, f".{file_name(file_no)}.tmp")
        records.write_file(tmp, recs)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(tmp, os.path.join(a.dir, file_name(file_no)))
        late_ms.append((time.time() - due) * 1000.0)
    with open(a.out, "w") as fh:
        json.dump({"late_ms": late_ms}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
