"""Benchmark entry point: run one workload and print one JSON result line.

    python3 perfbench/run.py --workload {suite_scan,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The workload runs in a worker process
(``perfbench/harness.py``) in its own process group, with Spark's Python
workers able to import the package from the checkout (``PYTHONPATH``) and
every scratch file kept under ``.perfbench_work/`` in the checkout. Once the
worker exits, anything left in its group is stopped and waited for, and the
last line on stdout is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Span files of traced runs are kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
# a run must end within 180 s; leave room to stop the process group
DEADLINE_S = 175


def _live_members(pgid: int) -> list[int]:
    """Processes of the group that have not exited (zombies excluded: they
    hold no resources and only their parent can reap them)."""
    pids = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        state, _ppid, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
        if int(pgrp) == pgid and state not in "ZX":
            pids.append(int(entry.name))
    return pids


def _stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every process left in the group, and wait
    until none is running."""
    sig, deadline = signal.SIGTERM, time.monotonic() + grace_s
    while _live_members(pgid):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)
        if time.monotonic() > deadline:
            sig, deadline = signal.SIGKILL, time.monotonic() + grace_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-docvalid benchmark")
    ap.add_argument("--workload", required=True, choices=("suite_scan", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    if not (ROOT / "anomalydetection_spark" / "__init__.py").is_file():
        print(f"perfbench: no anomalydetection_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    result_path = run_dir / "result.json"
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    env["TMPDIR"] = str(run_dir / "tmp")
    env["SPARK_DRIVER_MEMORY"] = "2g"
    cmd = [
        sys.executable, str(HERE / "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(run_dir), "--result", str(result_path),
    ] + (["--tiny"] if args.tiny else [])
    worker = subprocess.Popen(
        cmd, cwd=str(ROOT), env=env, stdout=sys.stderr, start_new_session=True
    )
    # a terminated benchmark still stops the worker's group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        code = worker.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {DEADLINE_S}s", file=sys.stderr)
        code = None
    finally:
        if worker.poll() is None:
            worker.kill()
        worker.wait()
        _stop_group(worker.pid)
    try:
        result = json.loads(result_path.read_text()) if code == 0 else None
    except FileNotFoundError:
        result = None
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
