"""Layered benchmark launcher: ``python3 perfbench/run.py --workload NAME
--seed N --seconds S --trace 0|1``, from any working directory.

It sizes the Spark session to the host and runs one workload in a child
process (runner.py) with:

- ``SPARK_GRAFT_CPUS``: the CPUs this process may run on (what ``nproc``
  prints without ``OMP_NUM_THREADS``), so the session is ``local[<cpus>]``;
- ``SPARK_DRIVER_MEM``: an eighth of ``MemTotal`` from ``/proc/meminfo``,
  between 1 GiB and 8 GiB;
- ``PYTHONPATH``: the repository root, which is how the executors' Python
  workers find ``pysparkdedup`` whatever the working directory is;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVMs' temp directory under
  ``.perfbench/`` in the repository, where the child also runs, so every
  file a run writes stays inside the checkout and is removed afterwards.

The child's stdout is passed through; its last line is the result JSON.
The exit code is the child's: 0 when every output check passed, 1 when one
failed. The launcher exits 2 without a result when the engine is not there
to measure, and 3 when the run overran its time limit. Every process the
child started is killed and waited for before the launcher returns.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170


def driver_memory() -> str:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
        else:
            raise RuntimeError("no MemTotal in /proc/meminfo")
    return f"{min(max(total_mb // 8, 1024), 8192)}m"


def child_env(work: str) -> dict:
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEM"] = driver_memory()
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher too: temp files in the run
    # directory, no perf-data file under /tmp
    env["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}")
    env["PYTHONUNBUFFERED"] = "1"
    return env


def stop_group(child: subprocess.Popen) -> None:
    """Kill whatever is left in the child's process group and wait until
    it is gone."""
    pgid = child.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    child.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="self-test input size")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: damage each output before checking it")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pysparkdedup", "__init__.py")):
        print(f"perfbench: no pysparkdedup package under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    cmd = [sys.executable, os.path.join(HERE, "runner.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    cmd += ["--tiny"] * args.tiny + ["--corrupt"] * args.corrupt
    child = subprocess.Popen(cmd, cwd=work, env=child_env(work),
                             start_new_session=True)
    # a terminated launcher still stops the child's processes (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = child.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIME_LIMIT_S}s", file=sys.stderr)
        code = 3
    finally:
        stop_group(child)
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
