"""Self-test of the benchmark on tiny inputs: ``python3 perfbench/selftest.py``.

For every workload it checks that

- an untraced run exits 0 and prints every end-to-end metric named in
  BENCHMARK.json, with its unit, and a traced run every per-layer metric;
- in the traced run, every layer manifest.json lists for the workload ran
  jobs, and the Python-boundary metrics (``python_s``, ``arrow_mb``) read
  above 0 on the layers that run Python UDFs, so their event-log names
  are the ones Spark writes;
- a run whose outputs are damaged before checking (``--corrupt``) fails its
  output check: exit code 1, ``correct`` false, ``failed`` above 0;

and that the launcher, copied into a directory that holds only
BENCHMARK.json and the benchmark's own files, exits non-zero without a
result. It takes a few minutes, since every run starts a Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
# Layers of each workload whose Python UDFs must show in the event log.
PYTHON_LAYERS = {"crawl_dedup": ("checkpoint",),
                 "train_pipeline": ("minhash", "curate", "tiers.semantic")}


def run(args, cwd=ROOT, root=ROOT):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--seconds", "1"] + args
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    return proc.returncode, result, proc.stderr


def expect(cond: bool, what: str, problems: list) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        problems.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "manifest.json")) as fh:
        manifest = json.load(fh)
    problems: list[str] = []
    for wl in (w["name"] for w in bench["workloads"]):
        base = ["--workload", wl, "--seed", str(SEED), "--tiny"]
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(base + ["--trace", str(trace)])
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = ({k: v["unit"] for k, v in res["metrics"].items()}
                   if res else {})
            expect(code == 0 and res is not None and res["correct"],
                   f"{wl} trace={trace}: exits 0 with a correct result", problems)
            expect(got == want, f"{wl} trace={trace}: emits every {kind} "
                   f"metric with its unit", problems)
            if code != 0:
                print(err[-2000:], file=sys.stderr)
            if res:
                expect(all(isinstance(v["value"], (int, float))
                           for v in res["metrics"].values()),
                       f"{wl} trace={trace}: every value is a number",
                       problems)
            if res and trace:
                value = {k: v["value"] for k, v in res["metrics"].items()}
                layers = manifest["workloads"][wl]["layers"]
                idle = [L for L in layers if not value[f"{L}.jobs"] > 0]
                expect(not idle, f"{wl}: every listed layer ran jobs "
                       f"(none: {idle})", problems)
                for L in PYTHON_LAYERS[wl]:
                    py = {m: value[f"{L}.{m}"] for m in ("python_s",
                                                         "arrow_mb")}
                    print(f"      {L}: {py}")
                    expect(all(v > 0 for v in py.values()),
                           f"{wl}: {L} python_s and arrow_mb above 0",
                           problems)
        code, res, _err = run(base + ["--trace", "0", "--corrupt"])
        expect(code == 1 and res is not None and not res["correct"]
               and res["failed"] > 0,
               f"{wl}: a damaged output fails the check", problems)

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _err = run(["--workload", bench["workloads"][0]["name"],
                           "--seed", str(SEED), "--trace", "0"],
                          cwd=bare, root=bare)
    expect(code != 0 and res is None,
           "without the engine: exits non-zero, prints no result", problems)
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
