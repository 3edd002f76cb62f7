#!/usr/bin/env python
"""Spark job timeline of one warm conversion, read from its event log.

    PYTHONPATH=. python scripts/job_timeline.py [--workload adm4_sharded] \
        [--seed 2] [--warm 1] [--cores N] [--json]

Builds the benchmark's seeded input for ``--workload`` and runs its
conversion through ``perfbench``'s own workload class
(``workloads.WORKLOADS``: ``adm4_sharded`` is ``convert_sharded``
z0-14 over the ADM4-like polygons; ``docs_props_stream`` is extract +
two property tags, materialized, then ``convert`` z0-12). It starts a
``get_spark`` session with
``SPARK_GRAFT_EVENTLOG`` pointing at a temp dir, runs ``--warm``
untimed conversions and then one more under its own job group. After
the session stops, it reads the event log and prints one line per Spark
job of that conversion (jobs, stages and task times from
``tracing.parse_eventlog``):

* ``offset_s``: job submission, seconds after the conversion started;
* ``dur_s``: job wall time;
* ``stages``: stages that ran, and (after ``+``) stages skipped because
  their shuffle output already existed;
* ``tasks``, ``task_sum_s``, ``task_max_s``: task count and the summed
  and largest executor run time of the job's tasks;
* ``scopes``: the operator scopes (RDD scope names, e.g. ``Exchange``,
  ``MapInPandas``, ``Scan parquet``) of the stages that ran, and the
  driver call site of the job.

Sizes and the Spark set-up follow ``perfbench`` (``local[<cores>]``,
``2 x cores`` shuffle partitions). ``--json`` prints the rows as one
JSON line instead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))

TIMED_GROUP = "job-timeline"


def _conversion(spark, workload: str, work: str, seed: int,
                partitions: int):
    """-> a function running one conversion of the benchmark workload
    ``workload`` (its own input, config and call)."""
    import workloads as W

    wl = W.WORKLOADS[workload](W.Ctx(work=work, seed=seed,
                                     sizes=W.SIZES["full"],
                                     partitions=partitions, spark=spark))
    wl.prepare()
    out = os.path.join(work, "out.pmtiles")

    def run():
        shard = tempfile.mkdtemp(dir=work)
        try:
            return wl.convert(0, out, shard)
        finally:
            shutil.rmtree(shard, ignore_errors=True)
    return run


def _scopes_and_sites(ev_dir: str) -> tuple[dict[int, list[str]],
                                            dict[int, str]]:
    """What ``tracing.parse_eventlog`` does not keep: the operator scope
    names of each completed stage, and each job's driver call site (the
    name of its last stage)."""
    scopes: dict[int, list[str]] = {}
    sites: dict[int, str] = {}
    for path in glob.glob(os.path.join(ev_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or not os.path.basename(path).startswith(
                ("events_", "local-", "app-")):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    infos = e.get("Stage Infos") or [{}]
                    sites[e["Job ID"]] = infos[-1].get("Stage Name", "")
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    names = [_scope_name(r) for r in si.get("RDD Info", [])]
                    scopes[si["Stage ID"]] = [n for n in names if n]
    return scopes, sites


def _scope_name(rdd_info: dict) -> str | None:
    scope = rdd_info.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name", "").strip() or None
    except ValueError:
        return None


def timeline(ev_dir: str, group: str, t0: float) -> list[dict]:
    """One row per job of ``group``, in submission order."""
    import tracing

    jobs, stages = tracing.parse_eventlog(ev_dir)
    stage_scopes, sites = _scopes_and_sites(ev_dir)
    rows = []
    for j in sorted((j for j in jobs.values() if j.group == group),
                    key=lambda j: j.start):
        done = [s for s in j.stage_ids if s in stages]
        runs = [t["run_s"] for s in done for t in stages[s].tasks]
        scopes: list[str] = []
        for s in sorted(done):
            for n in stage_scopes.get(s, []):
                if n not in scopes:
                    scopes.append(n)
        rows.append({
            "job": j.jid,
            "offset_s": round(j.start - t0, 3),
            "dur_s": round(j.end - j.start, 3),
            "stages": len(done),
            "skipped": len(j.stage_ids) - len(done),
            "tasks": len(runs),
            "task_sum_s": round(sum(runs), 3),
            "task_max_s": round(max(runs, default=0.0), 3),
            "site": sites.get(j.jid, "").split("/")[-1],
            "scopes": scopes,
        })
    return rows


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", default="adm4_sharded",
                   choices=("adm4_sharded", "docs_props_stream"))
    p.add_argument("--seed", type=int, default=2)
    p.add_argument("--warm", type=int, default=1)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    p.add_argument("--json", action="store_true")
    args = p.parse_args()

    work = tempfile.mkdtemp(prefix="job_timeline_")
    ev_dir = os.path.join(work, "eventlog")
    os.environ["SPARK_GRAFT_EVENTLOG"] = ev_dir
    from gpq_tiles_spark.session import get_spark

    partitions = 2 * args.cores
    spark = get_spark("job-timeline", cores=args.cores,
                      shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = _conversion(spark, args.workload, work, args.seed,
                          partitions)
        for _ in range(args.warm):
            run()
        sc = spark.sparkContext
        sc.setJobGroup(TIMED_GROUP, TIMED_GROUP)
        t0 = time.time()
        run()
        wall = time.time() - t0
        spark.stop()  # flushes the event log
        rows = timeline(ev_dir, TIMED_GROUP, t0)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.json:
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "wall_s": round(wall, 3), "jobs": rows}))
        return
    print(f"{args.workload} seed {args.seed}: {len(rows)} jobs, "
          f"conversion wall {wall:.3f} s")
    print(f"{'job':>4} {'offset_s':>8} {'dur_s':>6} {'stages':>7} "
          f"{'tasks':>5} {'task_sum_s':>10} {'task_max_s':>10}  scopes")
    for r in rows:
        stages = f"{r['stages']}+{r['skipped']}"
        print(f"{r['job']:>4} {r['offset_s']:>8.3f} {r['dur_s']:>6.3f} "
              f"{stages:>7} {r['tasks']:>5} {r['task_sum_s']:>10.3f} "
              f"{r['task_max_s']:>10.3f}  {', '.join(r['scopes'])} "
              f"[{r['site']}]")


if __name__ == "__main__":
    main()
