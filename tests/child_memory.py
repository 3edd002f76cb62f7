"""Run one function in a fresh Python process and read its peak-RSS growth.

``ru_maxrss`` read inside the test process is that process's peak so far
(a child even inherits it through fork and exec), so once an earlier test
peaked higher a bound on it reads no growth and checks nothing. A fresh
interpreter's ``VmHWM`` (``/proc/self/status``) covers only its own
image: its rise over ``VmRSS`` just before the call is what the call
itself allocated. Linux only.

    result, growth_mib = run_measured("tests.test_x:_work", arg1, arg2)

``_work`` must be a module-level function; its arguments and its return
value travel as JSON. The target module is imported before the first
reading, so what it imports at module level is not counted.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def status_kib(field: str) -> int:
    """``field`` of this process's /proc/self/status, in KiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def run_measured(target: str, *args, timeout: float = 600.0):
    """Call ``module:function`` with ``args`` in a child interpreter.
    Returns (the call's result, VmHWM growth over the call in MiB)."""
    path = os.environ.get("PYTHONPATH")
    env = {**os.environ,
           "PYTHONPATH": _REPO + (os.pathsep + path if path else "")}
    r = subprocess.run(
        [sys.executable, "-m", "tests.child_memory", target, json.dumps(args)],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=timeout)
    if r.returncode != 0:
        raise RuntimeError(
            f"{target} failed in the child process:\n{r.stderr[-4000:]}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    return out["result"], out["growth_mib"]


def _main() -> None:
    module, name = sys.argv[1].split(":")
    fn = getattr(importlib.import_module(module), name)
    args = json.loads(sys.argv[2])
    rss0 = status_kib("VmRSS")
    result = fn(*args)
    growth = (status_kib("VmHWM") - rss0) // 1024
    print(json.dumps({"result": result, "growth_mib": growth}))


if __name__ == "__main__":
    _main()
