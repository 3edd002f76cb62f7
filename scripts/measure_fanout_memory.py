#!/usr/bin/env python
"""Spark-free sweep of the fan-out's working-set budget.

    python scripts/measure_fanout_memory.py [--seed 2] [--samples 3] \\
        [--budgets-mib 1,2,4,8,32] [--large 2048]

Runs the fused fan-out + message encode (``pipeline.make_fanout_encoded``,
z0-14, the ``adm4_sharded`` benchmark's config) over two single-batch
inputs, with ``pipeline.FANOUT_BUDGET_BYTES`` set to each budget:

* ``task``: the seed's ``adm4_sharded`` input (``perfbench/inputs.py``,
  800 polygons), every fourth row: the 200-row batch one of the
  benchmark's four round-robin tasks receives;
* ``large``: ``--large`` rows of the same generator in one batch, whose
  z14 alone emits more WKB than the small budgets, so the encoder slices.

Each sample is a fresh Python process; samples alternate between the
budgets, the first budget rotating each round. Per sample it prints the
peak-RSS growth over the fan-out (the process's ``VmHWM`` after it minus
its RSS just before it), the wall time, the frames yielded, and the
SHA-256 of the records sorted on (tile_id, feature_id), which must agree
across budgets. Ends with one line of medians per input and budget.
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

from measure_finalize import _status_kib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_ZOOM = 14
TASKS = 4  # adm4_sharded spreads its 800 rows over local[4]'s 4 slots


def _batch(which: str, seed: int, large: int):
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import inputs

    if which == "task":
        t = inputs.adm4_polygons(800, seed)
        t = t.take(np.arange(0, t.num_rows, TASKS))
    else:
        t = inputs.adm4_polygons(large, seed)
    from gpq_tiles_spark.pipeline import FANOUT_COLS

    return t.select(list(FANOUT_COLS)).to_pandas()


def run_one(which: str, budget: int, seed: int, large: int) -> dict:
    """One sample in this process."""
    from gpq_tiles_spark import pipeline as P
    from gpq_tiles_spark.config import TilerConfig

    pdf = _batch(which, seed, large)
    P.FANOUT_BUDGET_BYTES = budget
    fan = P.make_fanout_encoded(TilerConfig(min_zoom=0, max_zoom=MAX_ZOOM))
    frames = 0
    rss0 = _status_kib("VmRSS")
    t0 = time.perf_counter()
    for _ in fan(iter([pdf])):  # each frame dropped, as the JVM takes it
        frames += 1
    wall = time.perf_counter() - t0
    rss1 = _status_kib("VmHWM")
    # a second pass keeps the records, after the peak was read
    frs = list(fan(iter([pdf])))
    tid = np.concatenate([fr["tile_id"].to_numpy() for fr in frs])
    fid = np.concatenate([fr["feature_id"].to_numpy() for fr in frs])
    msgs = [bytes(m) for fr in frs for m in fr["msg"]]
    h = hashlib.sha256()
    for i in np.lexsort((fid, tid)):
        h.update(b"%d,%d," % (tid[i], fid[i]))
        h.update(msgs[i])
    return {"wall_s": round(wall, 3), "rss_growth_mib": (rss1 - rss0) // 1024,
            "frames": frames, "records": len(tid), "sha256": h.hexdigest()}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=2)
    p.add_argument("--samples", type=int, default=3,
                   help="processes per input and budget")
    p.add_argument("--budgets-mib", default="1,2,4,8,32")
    p.add_argument("--large", type=int, default=2048,
                   help="rows of the large single batch")
    p.add_argument("--one", nargs=2, metavar=("INPUT", "BUDGET"),
                   help=argparse.SUPPRESS)
    args = p.parse_args()
    if args.one:
        print(json.dumps(run_one(args.one[0], int(args.one[1]), args.seed,
                                 args.large)))
        return
    budgets = [int(float(b) * (1 << 20)) for b in args.budgets_mib.split(",")]
    for which in ("task", "large"):
        samples: dict[int, list[dict]] = {b: [] for b in budgets}
        for i in range(args.samples):
            k = i % len(budgets)
            for b in budgets[k:] + budgets[:k]:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--one", which, str(b), "--seed", str(args.seed),
                     "--large", str(args.large)],
                    env={**os.environ, "PYTHONPATH": REPO},
                    capture_output=True, text=True, check=True)
                s = json.loads(r.stdout.strip().splitlines()[-1])
                samples[b].append(s)
                print(json.dumps({"input": which, "budget_mib": b / (1 << 20),
                                  "sample": i, **s}), flush=True)
        shas = {s["sha256"] for ss in samples.values() for s in ss}
        for b, ss in samples.items():
            print(json.dumps({
                "input": which, "budget_mib": b / (1 << 20),
                "rss_growth_mib_median": statistics.median(
                    s["rss_growth_mib"] for s in ss),
                "wall_s_median": statistics.median(s["wall_s"] for s in ss),
                "frames": ss[0]["frames"], "records": ss[0]["records"],
                "same_records": len(shas) == 1}), flush=True)


if __name__ == "__main__":
    main()
