"""Benchmark entry point.

    python3 perfbench/run.py --workload adm4_sharded --seed 1 --seconds 3 --trace 0

Runs one workload (see ``workloads.py``) and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics from a separate traced run (Spark
event log + benchmark spans + the Spark-free kernel section). ``--smoke``
shrinks every input to a few rows for the benchmark's own tests.

The line before the result is a JSON summary: the named per-workload
figures (archive sha256 and bytes, tile counts, sizes), host snapshots
taken before set-up and after measuring, and where spans were written.

Everything is written under ``.perfbench_work/`` (removed on exit) and
``.perfbench_out/`` (samples and spans) at the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# host: process tree, RSS, snapshot
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver JVM
    and Python workers), sampled every 50 ms while running. The process
    list is refreshed once a second, so sampling stays cheap next to the
    driver thread it shares the interpreter with."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._pids: list[int] = []

    def _sample(self, refresh: bool) -> None:
        if refresh:
            self._pids = [os.getpid(), *descendants(os.getpid())]
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self._pids))

    def _loop(self) -> None:
        n = 0
        while not self._stop.wait(0.05):
            n += 1
            self._sample(refresh=n % 20 == 0)

    def __enter__(self):
        self._sample(refresh=True)
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample(refresh=True)


def host_snapshot() -> dict:
    """loadavg and busy Python processes, so a contaminated run shows."""
    busy = 0
    me = {os.getpid(), *descendants(os.getpid())}
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in me:
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        state = stat[stat.rindex(")") + 2]
        if comm.startswith("python") and state == "R":
            busy += 1
    return {"time": time.time(), "loadavg": list(os.getloadavg()),
            "busy_python_procs": busy, "cpus": len(os.sched_getaffinity(0))}


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------

def start_spark(cores: int, partitions: int):
    from gpq_tiles_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM, and wait for every process
    this run started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as e:  # noqa: BLE001 - shutting down regardless
                print(f"gateway shutdown: {e!r}", file=sys.stderr)
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait()
        reap(tree)


def reap(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        for p in alive:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def measure(wl, seconds: float, trace: bool) -> dict:
    """Closed loop, one client: run operations until ``seconds`` have passed
    and at least ``min_ops`` ran. In a traced run every other operation is
    traced, so the two halves give the tracing overhead."""
    plain: list[float] = []
    traced: list[float] = []
    attempted = failed = 0
    errors: list[str] = []
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds or attempted < wl.min_ops:
        on = trace and i % 2 == 1
        attempted += 1
        try:
            r = wl.op(i, traced=on)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            failed += 1
            errors.append(repr(e)[:300])
            if failed >= 3 and failed == attempted:
                break
        else:
            (traced if on else plain).append(r.seconds)
            if r.errors:
                failed += 1
                errors.extend(r.errors)
        i += 1
    return {"plain": plain, "traced": traced, "attempted": attempted,
            "failed": failed, "errors": errors[:10],
            "elapsed": time.perf_counter() - t0}


def run(args, work: str, out_dir: str) -> tuple[dict, dict]:
    import metrics as M
    import tracing as TR
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    ctx = W.Ctx(work=work, seed=args.seed,
                sizes=W.SIZES["smoke" if args.smoke else "full"],
                partitions=2 * cores, trace_run=bool(args.trace))
    wl = W.WORKLOADS[args.workload](ctx)
    summary: dict = {"workload": args.workload, "seed": args.seed,
                     "trace": args.trace, "cores": cores,
                     "partitions": ctx.partitions, "sizes": ctx.sizes,
                     "host_before": host_snapshot()}
    spark = None
    try:
        # set-up: inputs written several times (median), Spark once
        preps = []
        for _ in range(3):
            t = time.perf_counter()
            wl.prepare()
            preps.append(time.perf_counter() - t)
        t = time.perf_counter()
        spark = ctx.spark = start_spark(cores, ctx.partitions)
        if args.trace:
            ctx.tracer = TR.Tracer(spark.sparkContext)
        spark_s = time.perf_counter() - t
        setup_s = statistics.median(preps) + spark_s
        summary.update(prepare_s=preps, spark_start_s=spark_s)

        phases = summary["phases_s"] = {}
        t = time.perf_counter()
        wl.oracle()
        phases["oracle"] = time.perf_counter() - t
        warm = W.OpResult(0.0)
        t = time.perf_counter()
        try:
            wl.warmup()
        except Exception as e:  # noqa: BLE001 - reported as a failed operation
            warm.errors.append(repr(e)[:300])
        phases["warmup"] = time.perf_counter() - t
        setup_errors = warm.errors

        with RssSampler() as rss:
            m = measure(wl, args.seconds, bool(args.trace))
        phases["measure"] = m["elapsed"]
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
            spark = None
        phases["stop"] = time.perf_counter() - t
        summary["host_after"] = host_snapshot()
        summary.update(wl.summary())
        summary["errors"] = setup_errors + m["errors"]

        lat = m["plain"] + m["traced"]
        if not m["plain"] or (args.trace and not m["traced"]):
            raise RuntimeError(f"no operation completed: {m['errors']}")
        attempted = m["attempted"] + 1
        failed = m["failed"] + (1 if setup_errors else 0)
        summary["ops"] = len(lat)
        summary["op_latencies_s"] = lat if len(lat) <= 50 else None

        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": statistics.median(lat) * 1e3,
                "ops_per_s": len(lat) / sum(lat),
                "peak_rss_mb": rss.peak_kb / 1024.0,
            }
            units = M.END_TO_END
        else:
            ev = os.environ["SPARK_GRAFT_EVENTLOG"]
            jobs, stages = TR.parse_eventlog(ev)
            metrics = {k: 0.0 for k in M.PER_LAYER}
            got = wl.layers(jobs, stages)
            got.update(_kernels(wl, args.seed))
            attempted += 1
            failed += 1 if wl.read_errors else 0
            summary["errors"] += wl.read_errors
            summary.update(wl.read_facts)
            metrics.update({k: v for k, v in got.items() if k in metrics})
            metrics["trace.overhead_ratio"] = (
                statistics.median(m["traced"]) / statistics.median(m["plain"]))
            metrics["trace.ops"] = float(len(m["traced"]))
            units = M.PER_LAYER
            spans = os.path.join(
                out_dir, f"spans-{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
            ctx.tracer.dump(spans)
            summary["spans"] = os.path.relpath(spans, ROOT)
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                              for k in units}}
        return summary, result
    finally:
        wl.close()
        if spark is not None:
            stop_spark(spark)


def _kernels(wl, seed: int) -> dict:
    import kernels_bench

    wkbs, tiles, n_dir = wl.kernel_inputs()
    return kernels_bench.run(wkbs, tiles, n_dir, seed)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    try:
        sys.path.insert(0, ROOT)
        import gpq_tiles_spark  # noqa: F401
        import pyspark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("local", "tmp", "ev"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    if args.trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "ev")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)

    # everything but the last two lines goes to stderr, including what the
    # JVM and the Python workers it forks print
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        summary, result = run(args, work, out_dir)
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}"),
                      ignore_errors=True)
        with_parent = os.path.join(ROOT, ".perfbench_work")
        if os.path.isdir(with_parent) and not os.listdir(with_parent):
            os.rmdir(with_parent)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"summary": summary, "result": result}, f)
    print(json.dumps(summary, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
