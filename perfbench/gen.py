"""Seeded CloudWatch-Logs envelope backlog generator and ground truth.

A backlog is a directory of shard subdirectories, each holding gzipped
CWL subscription envelopes, one blob per ``.gz`` file -- the on-disk
stand-in for Kinesis records that ``read_cwl_batch``, ``read_cwl_stream``
and the ``cwl_envelope`` data source all read.

Everything here is pure Python and independent of the package under
test: the ground truth is computed by decoding the written files again
with ``gzip`` + ``json`` and casting with this module's own field list,
so a decode bug in the engine cannot also hide in the expected answer.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass

# Typed VPC flow-log row (the reference README's sample output). Kept
# here, not imported, so the check does not trust the engine's schema.
FIELDS: list[tuple[str, type]] = [
    ("version", int),
    ("account_id", str),
    ("interface_id", str),
    ("srcaddr", str),
    ("dstaddr", str),
    ("srcport", int),
    ("dstport", int),
    ("protocol", int),
    ("packets", int),
    ("bytes", int),
    ("start", int),
    ("end", int),
    ("action", str),
    ("log_status", str),
]
COLUMNS = [name for name, _ in FIELDS]

# File mtimes start here and step by one second per blob, round-robin
# across shards, so a file-stream source that admits the N oldest files
# per trigger takes one blob from each of N shards.
_MTIME_BASE = 1_700_000_000


@dataclass(frozen=True)
class Spec:
    """Shape of one backlog.

    ``control_share`` is the fraction of blobs that are CONTROL_MESSAGE;
    ``events_lo``/``events_hi`` bound the events in one DATA blob. The
    defaults follow the repository's ingest fixtures: 400 events per
    blob is ``tools/ingest_bench.py``'s default, and 500 per blob (4,000
    rows per eight-blob trigger) is the shape of the 800-blob, 400k-event
    backlog on which the stream's per-trigger cost was first measured.
    Events per blob are spread evenly over 400..600 (mean 500).
    """

    blobs: int
    shards: int = 8
    control_share: float = 0.01
    events_lo: int = 400
    events_hi: int = 600


@dataclass(frozen=True)
class Truth:
    blobs: int
    control: int
    rows: int
    row_hash: str


def _shard_sizes(rng: random.Random, spec: Spec) -> list[int]:
    """Uneven shards in the 2:3 ratio of the reference-parity fixture
    (``tests/conftest.py``: one shard of two blobs, one of three): half
    the shards get two parts of the backlog, half three, in seed order."""
    parts = [2 + s % 2 for s in range(spec.shards)]
    rng.shuffle(parts)
    sizes = [max(1, spec.blobs * p // sum(parts)) for p in parts]
    # Hand the rounding remainder to the long shards, one blob each.
    order = sorted(range(spec.shards), key=lambda s: -parts[s])
    i = 0
    while sum(sizes) < spec.blobs:
        sizes[order[i % spec.shards]] += 1
        i += 1
    return sizes


def _event(rng: random.Random, eid: int, ts: int) -> dict:
    src = rng.getrandbits(24)
    packets = rng.randint(1, 5000)
    start = ts // 1000
    return {
        "id": str(eid),
        "timestamp": ts,
        "message": "-",
        "extractedFields": {
            "version": "2",
            "account_id": f"{rng.randint(10**11, 10**12 - 1)}",
            "interface_id": f"eni-{rng.getrandbits(28):07x}",
            "srcaddr": f"10.{src >> 16}.{(src >> 8) & 255}.{src & 255}",
            "dstaddr": f"198.51.100.{rng.randint(1, 254)}",
            "srcport": str(rng.randint(1024, 65535)),
            "dstport": str(rng.choice((22, 53, 80, 443, 3306, 8080))),
            "protocol": str(rng.choice((6, 6, 6, 17, 1))),
            "packets": str(packets),
            "bytes": str(packets * rng.randint(40, 1500)),
            "start": str(start),
            "end": str(start + rng.randint(1, 120)),
            "action": "ACCEPT" if rng.random() < 0.9 else "REJECT",
            "log_status": "OK",
        },
    }


def generate(path: str, spec: Spec, seed: int) -> None:
    """Write a backlog for ``spec`` under ``path`` (replacing it).

    The same ``seed`` writes byte-identical files with identical mtimes.
    """
    rng = random.Random(seed)
    shutil.rmtree(path, ignore_errors=True)
    sizes = _shard_sizes(rng, spec)
    n_control = max(1, round(spec.blobs * spec.control_share))
    control = set(rng.sample(range(spec.blobs), n_control))
    # Event counts spread evenly over [events_lo, events_hi], then
    # shuffled: blobs differ in size, every seed has the same total.
    n_data = spec.blobs - n_control
    sizes_left = [
        spec.events_lo + (spec.events_hi - spec.events_lo) * k // max(n_data - 1, 1)
        for k in range(n_data)
    ]
    rng.shuffle(sizes_left)
    eid = 0
    blob = 0
    for s, size in enumerate(sizes):
        shard_dir = os.path.join(path, f"shard{s:02d}")
        os.makedirs(shard_dir)
        for j in range(size):
            ts = (_MTIME_BASE + j * spec.shards + s) * 1000
            if blob in control:
                env = {
                    "messageType": "CONTROL_MESSAGE",
                    "owner": "CloudwatchLogs",
                    "logGroup": "",
                    "logStream": "",
                    "subscriptionFilters": [],
                    "logEvents": [
                        {"id": "", "timestamp": ts, "message": "CWL CONTROL MESSAGE: Checking health of destination Kinesis stream."}
                    ],
                }
            else:
                n = sizes_left.pop()
                events = [_event(rng, eid + k, ts + k) for k in range(n)]
                eid += n
                env = {
                    "messageType": "DATA_MESSAGE",
                    "owner": "123456789012",
                    "logGroup": "vpc-flow-logs",
                    "logStream": f"eni-stream-{s}",
                    "subscriptionFilters": ["bench"],
                    "logEvents": events,
                }
            fpath = os.path.join(shard_dir, f"p{j:05d}.gz")
            with open(fpath, "wb") as out:
                out.write(gzip.compress(json.dumps(env).encode(), compresslevel=6, mtime=0))
            mtime = _MTIME_BASE + j * spec.shards + s
            os.utime(fpath, (mtime, mtime))
            blob += 1


def blob_files(path: str) -> list[str]:
    """Every blob of a backlog, shard by shard, in file order."""
    out = []
    for shard in sorted(os.listdir(path)):
        shard_dir = os.path.join(path, shard)
        out.extend(os.path.join(shard_dir, f) for f in sorted(os.listdir(shard_dir)) if f.endswith(".gz"))
    return out


def canon_row(row) -> bytes:
    return "\x1f".join("NULL" if v is None else str(v) for v in row).encode()


def row_hash(rows) -> str:
    """Order-insensitive multiset hash: sum of per-row digests mod 2**128.

    Equal hashes and equal counts mean the same rows with the same
    multiplicities, so a lost row, a duplicated row or a changed cell
    each change the hash.
    """
    acc = 0
    for row in rows:
        acc += int.from_bytes(hashlib.blake2b(canon_row(row), digest_size=16).digest(), "big")
    return f"{acc % (1 << 128):032x}"


def _envelopes(files: list[str]):
    for fpath in files:
        with open(fpath, "rb") as fobj:
            yield json.loads(gzip.decompress(fobj.read()))


def _rows(env: dict):
    """Drop CONTROL -> flatten -> cast, for one decoded envelope."""
    if env.get("messageType") != "DATA_MESSAGE":
        return
    for event in env.get("logEvents") or ():
        fields = event.get("extractedFields") or {}
        yield tuple(
            None if fields.get(name) is None else cast(fields[name])
            for name, cast in FIELDS
        )


def truth(path: str) -> Truth:
    """Row count and row hash by an independent gunzip -> JSON decode."""
    files = blob_files(path)
    rows: list[tuple] = []
    control = 0
    for env in _envelopes(files):
        control += env.get("messageType") == "CONTROL_MESSAGE"
        rows.extend(_rows(env))
    return Truth(len(files), control, len(rows), row_hash(rows))


def reference_loop_rows_per_s(path: str) -> float:
    """The reference's architecture: one thread doing gunzip -> json ->
    drop CONTROL -> flatten -> project per record, over every shard in
    turn (kinesis_logs_reader.py:79-104, with the network removed)."""
    files = blob_files(path)
    t0 = time.perf_counter()
    rows = 0
    for fpath in files:
        with open(fpath, "rb") as fobj:
            env = json.loads(gzip.decompress(fobj.read()).decode("utf-8"))
        if env["messageType"] != "DATA_MESSAGE":
            continue
        for event in env["logEvents"]:
            event["extractedFields"]
            rows += 1
    return rows / (time.perf_counter() - t0)
