"""Seeded raw-record files for the watcher workload, and their oracle.

A file's records are a pure function of ``(seed, file_no, t_ref_us)``,
so the process that checks the output can rebuild them without reading
what the generator wrote. ``render_line`` is a plain-Python rendering of
the CLI's default template (``{{.ShortHostId}} {{.Timestamp}}
{{.LogEntry}}``) written from the template's documented semantics, not
from the engine's code.

The gate is a per-file line count plus an order-independent digest
(sum of 64-bit line hashes), so the sink keeps no lines. ``hash`` of a
``str`` is salted per process; the sink and the oracle run in the same
process, which is all the comparison needs.
"""

from __future__ import annotations

import random
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

MASK = (1 << 64) - 1
FILE_TAG = "req="  # the line's file number follows this tag
FILE_NO_WIDTH = 5

RAW_SCHEMA = pa.schema(
    [
        ("streamName", pa.string()),
        ("shardId", pa.string()),
        ("sequenceNumber", pa.string()),
        ("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC")),
        ("partitionKey", pa.string()),
        ("data", pa.binary()),
    ]
)

_HOSTS = [
    "arn:aws:ecs:us-west-2:123456789012:task/web/0f3c9a2b7d1e4c5a",
    "arn:aws:ecs:us-west-2:123456789012:task/api/8e1d0c7b6a5f4e3d",
    "arn:aws:ec2:us-west-2:123456789012:instance/i-0a1b2c3d4e5f60718",
    "arn:aws:ec2:us-east-1:123456789012:instance/i-09f8e7d6c5b4a3921",
    "ingest-worker-7",
    "arn:aws:lambda:us-west-2:123456789012:function:resize",
]
_PATHS = ["/api/orders", "/api/users/me", "/healthz", "/api/search", "/static/app.js"]
_LEVELS = ["INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG"]
_METHODS = ["GET", "GET", "POST", "PUT", "DELETE"]


def file_records(seed: int, file_no: int, n: int, t_ref_us: int, spread_us: int) -> list[tuple]:
    """The ``n`` records of one file: arrival timestamps in
    ``[t_ref_us - spread_us, t_ref_us)`` with microsecond jitter."""
    rng = random.Random(seed * 1_000_003 + file_no)
    out = []
    for i in range(n):
        ts_us = t_ref_us - spread_us + (spread_us * i) // n + rng.randrange(997)
        host = _HOSTS[rng.randrange(len(_HOSTS))]
        entry = (
            f"{FILE_TAG}{file_no:0{FILE_NO_WIDTH}d}-{i:04d} "
            f"level={rng.choice(_LEVELS)} method={rng.choice(_METHODS)} "
            f"path={rng.choice(_PATHS)} status={rng.choice((200, 200, 201, 404, 500))} "
            f"dur_ms={rng.randrange(1, 2500)}"
        )
        out.append(
            (
                "bench-stream",
                f"shardId-{rng.randrange(4):012d}",
                f"4959{seed % 10_000:04d}{file_no:08d}{i:06d}",
                ts_us,
                host,
                entry.encode(),
            )
        )
    return out


def write_file(path: str, records: list[tuple]) -> None:
    cols = list(zip(*records))
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, RAW_SCHEMA)], schema=RAW_SCHEMA
    )
    pq.write_table(table, path)


def short_host_id(partition_key: str) -> str:
    last = partition_key.split(":")[-1]
    for prefix in ("task/", "instance/"):
        if last.startswith(prefix):
            return last[len(prefix):]
    return last


def go_time(ts_us: int) -> str:
    """Go's default ``time.Time`` formatting in UTC."""
    sec, us = divmod(ts_us, 1_000_000)
    dt = datetime.fromtimestamp(sec, tz=timezone.utc)
    frac = ("." + f"{us:06d}".rstrip("0")) if us else ""
    return f"{dt:%Y-%m-%d %H:%M:%S}{frac} +0000 UTC"


def render_line(rec: tuple) -> str:
    return f"{short_host_id(rec[4])} {go_time(rec[3])} {rec[5].decode()}"


def file_no_of(line: str) -> int:
    i = line.index(FILE_TAG) + len(FILE_TAG)
    return int(line[i:i + FILE_NO_WIDTH])


class DigestSink:
    """The sink handed to ``watch``: per file, the line count, the digest
    and the wall time of the latest line. Holds no line."""

    def __init__(self, clock):
        self.clock = clock
        self.count: dict[int, int] = {}
        self.digest: dict[int, int] = {}
        self.last_t: dict[int, float] = {}
        self.first_t: float | None = None
        self.lines = 0

    def __call__(self, line: str) -> None:
        t = self.clock()
        if self.first_t is None:
            self.first_t = t
        f = file_no_of(line)
        self.count[f] = self.count.get(f, 0) + 1
        self.digest[f] = (self.digest.get(f, 0) + hash(line)) & MASK
        self.last_t[f] = t
        self.lines += 1


def expected(records: list[tuple], cutoff_us: int | None) -> tuple[int, int]:
    """(line count, digest) the watcher must emit for one file."""
    n, d = 0, 0
    for rec in records:
        if cutoff_us is None or rec[3] >= cutoff_us:
            n += 1
            d = (d + hash(render_line(rec))) & MASK
    return n, d


def gate(sink: DigestSink, want: dict[int, tuple[int, int]]) -> list[str]:
    """Compare the sink's per-file (count, digest) with the oracle's.
    Returns one problem per failing file; a file the sink saw that the
    oracle does not know about is a failure too."""
    problems = []
    for f, (n, d) in want.items():
        got = (sink.count.get(f, 0), sink.digest.get(f, 0))
        if got != (n, d):
            problems.append(f"file {f}: got {got[0]} lines, want {n}; digest match={got[1] == d}")
    for f in sink.count.keys() - want.keys():
        problems.append(f"file {f}: {sink.count[f]} unexpected lines")
    return problems
