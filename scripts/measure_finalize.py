#!/usr/bin/env python
"""Spark-free timing of the sharded sink's finalize over synthetic shards.

    python scripts/measure_finalize.py --entries 1000000 --blobs unique \\
        --work /tmp/fin [--samples 3] [--repo CHECKOUT ...]

Writes ``--shards`` (8) shard and entry files into ``--work`` the way
``pipeline._make_shard_writer`` lays them out: tiles hash-partitioned
over the shards, each shard in tile_id order, in-shard dedup on
(content_hash, raw_len), 20-byte blobs appended at the shard's end, and
one entry row group per 10,000 rows. ``--blobs unique`` gives every entry
its own blob; ``--blobs 64`` draws from 64 blobs in short runs, so the
directory coalesces. The files are reused when the same parameters are
asked for again.

Each sample runs the finalize in a fresh Python process and reports its
wall time and its peak-RSS growth: the process's peak RSS (``VmHWM``)
after the finalize minus its RSS just before it. With several ``--repo``
checkouts the samples alternate between them, the first side switching
each round, and every archive's SHA-256 must agree. A checkout from before the streamed
finalize (``pipeline._finalize_entry_files``) runs its
``_finalize_entries_driver`` over one frame of every entry, as its
``_finalize_shards`` did. Prints one JSON line per sample and one summary
line of medians per checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np

BLOB_BYTES = 20
RAW_LEN = 32
ROW_GROUP_ROWS = 10_000
BOUNDS = (-10.0, -10.0, 10.0, 10.0)


def _tile_ids(n: int, rng) -> tuple[np.ndarray, np.ndarray]:
    """``n`` ascending tile ids from zoom 10 up, with gaps of 1 or 2 so
    that some neighbours are consecutive; and their zooms."""
    base = np.array([(4 ** z - 1) // 3 for z in range(32)], dtype=np.int64)
    tid = base[10] + np.cumsum(rng.integers(1, 3, n))
    return tid, (np.searchsorted(base, tid, side="right") - 1).astype(np.int32)


def _content_hash(keys: np.ndarray) -> np.ndarray:
    """A 63-bit hash of each blob key (splitmix64's finalizer), so the
    hashes are spread like the writer's ``content_hash64``."""
    with np.errstate(over="ignore"):
        x = keys.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x >> np.uint64(1)).astype(np.int64)


def _blob_bytes(keys: np.ndarray) -> bytes:
    out = np.full((len(keys), BLOB_BYTES), 0x5A, dtype=np.uint8)
    out[:, :8] = keys.astype("<i8").view(np.uint8).reshape(-1, 8)
    return out.tobytes()


def write_shards(work: str, n: int, blobs: str, shards: int) -> list[int]:
    """Synthetic ``shard_{pid}.bin`` + ``entries_{pid}.parquet`` pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpq_tiles_spark import pipeline as P

    pids = list(range(shards))
    done = os.path.join(work, "DONE")
    if os.path.exists(done):
        return pids
    os.makedirs(work, exist_ok=True)
    rng = np.random.default_rng(7)
    tid, z = _tile_ids(n, rng)
    if blobs == "unique":
        key = np.arange(n, dtype=np.int64)
    else:
        key = np.cumsum(rng.random(n) < 0.3) % int(blobs)
    pid_of = ((tid * np.int64(-7046029254386353131)) >> np.int64(40)) % shards
    schema = P._entries_arrow_schema()
    for pid in pids:
        rows = np.flatnonzero(pid_of == pid)
        k = key[rows]
        uniq, first, inv = np.unique(k, return_index=True,
                                     return_inverse=True)
        by_first = np.argsort(first)
        rank = np.empty(len(uniq), dtype=np.int64)
        rank[by_first] = np.arange(len(uniq))
        with open(P._shard_path(work, pid), "wb") as f:
            f.write(_blob_bytes(uniq[by_first]))
        table = pa.table({
            "tile_id": tid[rows], "z": z[rows],
            "content_hash": _content_hash(k),
            "raw_len": np.full(len(rows), RAW_LEN, dtype=np.int64),
            "local_off": rank[inv] * BLOB_BYTES,
            "blob_len": np.full(len(rows), BLOB_BYTES, dtype=np.int64),
            "n_features": 1 + k % 3,
            "pid": np.full(len(rows), pid, dtype=np.int32),
        }, schema=schema)
        pq.write_table(table, P._entries_path(work, pid),
                       row_group_size=ROW_GROUP_ROWS)
    open(done, "w").close()
    return pids


def _finalize(P, work: str, pids: list[int], out: str) -> None:
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP

    cfg = TilerConfig(min_zoom=0, max_zoom=14)
    if hasattr(P, "_finalize_entry_files"):
        P._finalize_entry_files(work, pids, out, BOUNDS, cfg,
                                COMPRESSION_GZIP)
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = P._entries_arrow_schema()
    table = pa.concat_tables([pq.read_table(P._entries_path(work, p),
                                            schema=schema) for p in pids])
    P._finalize_entries_driver(table.to_pandas(), out, work, BOUNDS, cfg,
                               COMPRESSION_GZIP)


def _status_kib(field: str) -> int:
    """``field`` of /proc/self/status in KiB. ``VmHWM`` is the peak RSS of
    this process image; unlike ``ru_maxrss`` it does not carry over the
    parent's peak through fork and exec."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def run_one(work: str, shards: int, out: str) -> dict:
    """One sample in this process: the finalize's wall time and peak-RSS
    growth, and the archive's SHA-256."""
    from gpq_tiles_spark import pipeline as P

    pids = list(range(shards))
    rss0 = _status_kib("VmRSS")
    t0 = time.perf_counter()
    _finalize(P, work, pids, out)
    wall = time.perf_counter() - t0
    rss1 = _status_kib("VmHWM")
    h = hashlib.sha256()
    with open(out, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    os.remove(out)
    return {"wall_s": round(wall, 3), "rss_growth_mib": (rss1 - rss0) // 1024,
            "sha256": h.hexdigest()}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--entries", type=int, default=1_000_000)
    p.add_argument("--blobs", default="unique",
                   help="'unique' or a blob count such as 64")
    p.add_argument("--shards", type=int, default=8)
    p.add_argument("--work", required=True,
                   help="directory for the synthetic shards")
    p.add_argument("--samples", type=int, default=3,
                   help="processes per checkout")
    p.add_argument("--repo", action="append",
                   help="checkout to import gpq_tiles_spark from "
                        "(repeatable; default: this one)")
    p.add_argument("--one", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(args.work,
                        f"{args.entries}_{args.blobs}_{args.shards}_h")
    if args.one:
        out = os.path.join(args.work, f"out_{os.getpid()}.pmtiles")
        print(json.dumps(run_one(work, args.shards, out)))
        return
    repos = [os.path.abspath(r) for r in (args.repo or [here])]
    sys.path.insert(0, repos[0])
    write_shards(work, args.entries, args.blobs, args.shards)
    samples: dict[str, list[dict]] = {r: [] for r in repos}
    for i in range(args.samples):
        side = repos if i % 2 == 0 else repos[::-1]
        for repo in side:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one",
                 "--work", args.work, "--entries", str(args.entries),
                 "--blobs", args.blobs, "--shards", str(args.shards)],
                env={**os.environ, "PYTHONPATH": repo},
                capture_output=True, text=True, check=True)
            s = json.loads(r.stdout.strip().splitlines()[-1])
            samples[repo].append(s)
            print(json.dumps({"repo": repo, "sample": i, **s}), flush=True)
    shas = {s["sha256"] for ss in samples.values() for s in ss}
    print(json.dumps({
        "entries": args.entries, "blobs": args.blobs,
        "shards": args.shards, "same_bytes": len(shas) == 1,
        **{repo: {
            "wall_s_median": statistics.median(s["wall_s"] for s in ss),
            "rss_growth_mib_median": statistics.median(
                s["rss_growth_mib"] for s in ss),
        } for repo, ss in samples.items()}}))


if __name__ == "__main__":
    main()
