"""Load generator for the stream workload, separate from the engine.

It appends chunks to the embedded broker's documented log layout directly
(``<broker>/<topic>/p<n>/<monotonic>.jsonl``, one base64 ``{key, value, ts}``
record per line), writing a hidden temp file and renaming it into place so a
poll sees a whole chunk or none of it.  The engine's own Kafka writer is
never used to produce load, so it is not billed for it.

Each record is a JSON event ``{"seq", "created_ms", "msg"}`` keyed by its
sequence id; ``msg`` is a grok-parsable access-log line.  A seeded share of
records is malformed JSON (the closing brace cut off), which the morphline
must route to the DLQ.  The generator keeps the expected outcome of every
record for the output checks.
"""

from __future__ import annotations

import base64
import json
import os
import time

import numpy as np

METHODS = ["GET", "POST", "PUT", "DELETE"]
STATUSES = [200, 201, 204, 301, 304, 400, 404, 500, 503]
PATHS = ["/", "/api/v1/items", "/api/v1/orders", "/static/app.js", "/login", "/search"]


def _b64(s: str) -> str:
    return base64.b64encode(s.encode("utf-8")).decode("ascii")


class StreamGenerator:
    def __init__(self, broker: str, topic: str, seed: int, malformed_share: float = 0.05, partition: int = 0):
        self.rng = np.random.default_rng(seed)
        self.malformed_share = malformed_share
        self.pdir = os.path.join(broker, topic, f"p{partition}")
        os.makedirs(self.pdir, exist_ok=True)
        self.seq = 0
        self.chunks = 0
        # seq -> (status, bytes, created_ms) for well-formed records,
        # seq -> raw value for malformed ones
        self.good: dict[int, tuple[int, int, int]] = {}
        self.bad: dict[int, str] = {}

    def publish(self, n: int) -> int:
        """Create ``n`` records stamped now, append them as one log file and
        return the creation stamp in epoch milliseconds."""
        rng = self.rng
        created_ms = int(time.time() * 1000)
        ips = rng.integers(1, 255, (n, 4))
        methods = rng.integers(0, len(METHODS), n)
        paths = rng.integers(0, len(PATHS), n)
        statuses = rng.integers(0, len(STATUSES), n)
        sizes = rng.integers(0, 100_000, n)
        malformed = rng.random(n) < self.malformed_share
        lines = []
        for i in range(n):
            seq = self.seq + i
            status = STATUSES[statuses[i]]
            msg = (
                f"{ips[i, 0]}.{ips[i, 1]}.{ips[i, 2]}.{ips[i, 3]} {METHODS[methods[i]]} "
                f"{PATHS[paths[i]]}?id={seq} {status} {sizes[i]}"
            )
            value = json.dumps({"seq": seq, "created_ms": created_ms, "msg": msg})
            if malformed[i]:
                value = value[:-1]
                self.bad[seq] = value
            else:
                self.good[seq] = (status, int(sizes[i]), created_ms)
            lines.append(json.dumps({"key": _b64(str(seq)), "value": _b64(value), "ts": created_ms}))
        self.seq += n
        name = f"{time.time_ns():020d}-{self.chunks:08d}.jsonl"
        tmp = os.path.join(self.pdir, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.pdir, name))
        self.chunks += 1
        return created_ms


def read_topic(broker: str, topic: str) -> list[tuple[str | None, str | None]]:
    """Every (key, value) record of a topic, decoded from the log files."""
    out = []
    tdir = os.path.join(broker, topic)
    if not os.path.isdir(tdir):
        return out
    for p in sorted(os.listdir(tdir)):
        pdir = os.path.join(tdir, p)
        for fname in sorted(f for f in os.listdir(pdir) if f.endswith(".jsonl")):
            with open(os.path.join(pdir, fname), encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        rec = json.loads(line)
                        key, value = rec.get("key"), rec.get("value")
                        out.append(
                            (
                                base64.b64decode(key).decode() if key is not None else None,
                                base64.b64decode(value).decode() if value is not None else None,
                            )
                        )
    return out
