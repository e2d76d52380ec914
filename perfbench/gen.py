"""Seeded change-event generator: one parquet file per epoch.

The column recipe follows ``etl_spark.sources.changelog.changes_at_scale``
(Zipf-skewed domains via ``floor(D * u^4)``, ~1 KB of pseudo-HTML per
insert/update, null html on deletes), but every random choice comes from
a numpy generator seeded by the workload seed: the url salt, which keys
an epoch touches, event times, payload text, and where deletes and
duplicates fall. Files are written with pyarrow, outside Spark and
outside op time, so the program under test sees only generated inputs.

Epoch 0 is the preload: one insert per key of the fixed key space.
Every later epoch draws its keys from that same key space, so the table
size stays constant across update epochs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
EPOCH_US = 3_600 * 1_000_000  # one hour of event time per epoch
SEQ_STRIDE = 1_000_000_000  # seq = epoch * SEQ_STRIDE + position
BODY_BYTES = 900  # text bytes inside each html payload
N_DOMAINS = 1000
DELETE_FRAC = 0.03
DUP_FRAC = 0.03  # same (url, warc_ts) re-sent with a higher seq
SHARED_BODY_FRAC = 0.05  # payloads copied from a small pool

CHANGES_ARROW = pa.schema(
    [
        ("seq", pa.int64()),
        ("epoch", pa.int64()),
        ("op", pa.string()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Input sizes of one workload."""

    n_keys: int  # preloaded key space (urls)
    events_per_epoch: int  # change events per update epoch


class ChangeGenerator:
    """Deterministic in (seed, shape): the same seed gives the same files."""

    def __init__(self, seed: int, shape: Shape):
        self.seed = seed
        self.shape = shape
        rng = np.random.default_rng([seed, 0])
        salt = int(rng.integers(1 << 32))
        u = rng.random(shape.n_keys)
        domains = np.floor(N_DOMAINS * u**4).astype(np.int64)
        self.urls = np.array(
            [
                f"https://d{d}.example/p/{salt:08x}-{k}"
                for k, d in enumerate(domains)
            ],
            dtype=object,
        )
        # A random lowercase corpus; each body is a slice of it, so text
        # compresses like prose (about 3x) and extraction has real work.
        letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
        raw = letters[rng.integers(0, 26, 1 << 20)]
        raw[rng.random(raw.size) < 0.17] = ord(" ")
        self.corpus = raw.tobytes().decode("ascii")
        self.pool_offsets = rng.integers(0, len(self.corpus) - BODY_BYTES, 64)

    def _html(self, rng, key_idx: np.ndarray) -> list[bytes]:
        n = len(key_idx)
        offsets = rng.integers(0, len(self.corpus) - BODY_BYTES, n)
        pooled = rng.random(n) < SHARED_BODY_FRAC
        pool_pick = rng.integers(0, len(self.pool_offsets), n)
        out = []
        for i in range(n):
            if pooled[i]:
                title = f"Shared {pool_pick[i]}"
                off = self.pool_offsets[pool_pick[i]]
            else:
                title = f"Page {key_idx[i]}"
                off = offsets[i]
            body = self.corpus[off : off + BODY_BYTES]
            out.append(
                (
                    f"<html><head><title>{title}</title></head><body><h1>"
                    f"{title}</h1><p>{body}</p><script>var t=1;</script>"
                    "</body></html>"
                ).encode("ascii")
            )
        return out

    def epoch_table(self, epoch: int) -> pa.Table:
        shape = self.shape
        rng = np.random.default_rng([self.seed, 1, epoch])
        if epoch == 0:
            key_idx = rng.permutation(shape.n_keys)
            ops = np.full(shape.n_keys, "I", dtype=object)
            ts = BASE_US + rng.integers(0, EPOCH_US, shape.n_keys)
        else:
            n = shape.events_per_epoch
            n_dup = int(n * DUP_FRAC)
            base = rng.integers(0, shape.n_keys, n - n_dup)
            # windows of two epochs overlap, so some events arrive late
            # and must lose to an already-stored newer version
            base_ts = BASE_US + epoch * EPOCH_US + rng.integers(0, 2 * EPOCH_US, n - n_dup)
            dup_src = rng.integers(0, n - n_dup, n_dup)
            key_idx = np.concatenate([base, base[dup_src]])
            ts = np.concatenate([base_ts, base_ts[dup_src]])
            ops = np.where(rng.random(n) < DELETE_FRAC, "D", "U").astype(object)
            order = rng.permutation(n)
            key_idx, ts, ops = key_idx[order], ts[order], ops[order]
        n = len(key_idx)
        html = self._html(rng, key_idx)
        html = [None if op == "D" else h for op, h in zip(ops, html)]
        return pa.table(
            {
                "seq": pa.array(epoch * SEQ_STRIDE + np.arange(n), pa.int64()),
                "epoch": pa.array(np.full(n, epoch), pa.int64()),
                "op": pa.array(ops, pa.string()),
                "url": pa.array(self.urls[key_idx], pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array(html, pa.binary()),
                "lang": pa.nulls(n, pa.string()),
            },
            schema=CHANGES_ARROW,
        )

    def write_epoch(self, out_dir: str, epoch: int) -> str:
        path = os.path.join(out_dir, f"epoch={epoch:05d}.parquet")
        pq.write_table(self.epoch_table(epoch), path, compression="snappy")
        return path
