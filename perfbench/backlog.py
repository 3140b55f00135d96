"""Seeded, Kafka-shaped message backlog for the archive-drain workload.

The backlog has a fixed volume (files x messages per file) so that every
seed does the same amount of work; the seed chooses how it is spread:
which topics are large (a Zipf skew over topics, permuted by seed), the
log-normal payload sizes, the JSON-like payload text and each key's first
offset.  Messages are assigned to keys in one arrival sequence and cut
into consecutive files, so every file holds, for each key it touches, one
contiguous offset run, and files in name/mtime order are offset order --
the order a Kafka consumer catching up from a committed offset sees.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shape sources.  4 partitions per topic: FIXTURES.md's streaming-parity
# fixture (partition = pmod(user_id, 4)).  64 keys in all, and 3000
# messages per staged file (= per micro-batch, see run.py): the 64-key,
# 3k-message point at which the writers were measured to be bound by
# per-batch and per-key costs.  The reference fixes none of the remaining
# numbers (SURVEY.md: payloads are opaque bytes), so the topic skew and
# the payload size distribution below are placeholders.
PARTITIONS = 4
TOPICS = 16  # -> 64 (topic, partition) keys
MSGS_PER_FILE = 3000
TOPIC_SKEW = 1.1  # placeholder: Zipf exponent of topic sizes
PAYLOAD_MEDIAN = 240  # placeholder: bytes, log-normal median
PAYLOAD_SIGMA = 0.6  # placeholder

_WORDS = (
    "archive batch broker bucket commit consumer offset partition payload "
    "rotation segment topic upload writer checkpoint gzip frame record key "
    "value stream retry lag meter daemon schema event click view order cart "
    "user session region status ok error warn info debug trace latency"
).split()
_EVENTS = ("click", "view", "purchase", "signup", "logout", "search")
_LEVELS = ("info", "warn", "error", "debug")

SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("value", pa.binary()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class Backlog:
    path: str
    n_files: int
    n_msgs: int
    payload_bytes: int
    keys: int
    # per (topic, partition): (first_offset, payloads in offset order)
    runs: dict


def _payloads(rng: np.random.Generator, first_id: int, sizes: np.ndarray) -> list[bytes]:
    """JSON-like payloads of the given sizes, cut from one seeded word stream."""
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), size=int(sizes.sum()) // 4 + 64)]
    text = " ".join(words.tolist())
    users = rng.integers(0, 5000, size=len(sizes))
    events = rng.integers(0, len(_EVENTS), size=len(sizes))
    levels = rng.integers(0, len(_LEVELS), size=len(sizes))
    out, pos = [], 0
    for j, size in enumerate(sizes.tolist()):
        head = (
            f'{{"id":{first_id + j},"user":"u{users[j]}","event":"{_EVENTS[events[j]]}",'
            f'"level":"{_LEVELS[levels[j]]}","msg":"'
        )
        n = max(size - len(head) - 2, 0)
        out.append((head + text[pos : pos + n] + '"}').encode())
        pos += n
    return out


def generate(path: str, seed: int, n_files: int, stream: int = 0) -> Backlog:
    """Write ``n_files`` parquet files of ``MSGS_PER_FILE`` messages each;
    ``stream`` draws an independent backlog from the same seed."""
    rng = np.random.default_rng([seed, stream])
    os.makedirs(path, exist_ok=True)
    ranks = rng.permutation(TOPICS) + 1
    topic_w = 1.0 / ranks.astype(float) ** TOPIC_SKEW
    key_w = np.repeat(topic_w / topic_w.sum() / PARTITIONS, PARTITIONS)
    keys = [(f"t{t:02d}", p) for t in range(TOPICS) for p in range(PARTITIONS)]
    n = n_files * MSGS_PER_FILE
    key_of = rng.choice(len(keys), size=n, p=key_w)
    sizes = np.clip(
        rng.lognormal(np.log(PAYLOAD_MEDIAN), PAYLOAD_SIGMA, size=n), 16, 8192
    ).astype(int)
    base = rng.integers(0, 10**7, size=len(keys))
    next_off = base.copy()
    t0 = 1_700_000_000_000_000 + int(rng.integers(0, 10**9))
    payload_bytes = 0
    per_key: list[list[bytes]] = [[] for _ in keys]
    for f in range(n_files):
        lo, hi = f * MSGS_PER_FILE, (f + 1) * MSGS_PER_FILE
        idx = key_of[lo:hi]
        # stable sort by key keeps each key's arrival order -> one run per key
        order = np.argsort(idx, kind="stable")
        k_sorted = idx[order]
        offsets = np.empty(len(idx), dtype=np.int64)
        for k in np.unique(k_sorted):
            sel = k_sorted == k
            c = int(sel.sum())
            offsets[sel] = next_off[k] + np.arange(c)
            next_off[k] += c
        values = _payloads(rng, lo, sizes[lo:hi][order])
        payload_bytes += sum(len(v) for v in values)
        for k, v in zip(k_sorted.tolist(), values):
            per_key[k].append(v)
        table = pa.table(
            {
                "topic": [keys[k][0] for k in k_sorted],
                "partition": pa.array([keys[k][1] for k in k_sorted], pa.int32()),
                "offset": offsets,
                "value": pa.array(values, pa.binary()),
                "ts": pa.array(t0 + (lo + order) * 1000, pa.timestamp("us", tz="UTC")),
            },
            schema=SCHEMA,
        )
        fp = os.path.join(path, f"backlog-{f:04d}.parquet")
        pq.write_table(table, fp, compression="zstd")
        # the file source drains in modification-time order
        os.utime(fp, (1_700_000_000 + f, 1_700_000_000 + f))
    runs = {key: (int(base[k]), per_key[k]) for k, key in enumerate(keys) if per_key[k]}
    return Backlog(path, n_files, n, payload_bytes, len(runs), runs)
