"""One benchmark run of one workload, inside the environment run.py sets.

Set-up starts the session, builds the input from the seed and warms up
with one call of the workload's verbs on that input, so plan compilation,
JIT and Python worker start-up fall in ``setup_s``. The timed loop then
calls the verbs back to back (a closed loop, one batch job at a time) until
``--seconds`` have passed, at least once, and reports the median call.
Every output, the warm-up's too, is checked.

``--trace 1`` writes an event log and, after the same set-up, makes two
calls instead of the timed loop: a plain one under the job group ``verb``,
and one with every layer materialized in its own labelled span. It reports
the per-layer table read back from the log instead of the end-to-end
metrics.

The last stdout line is the result JSON; the process exits 1 when any
output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

import workloads as W

# Input sizes; ``tiny`` is the self-test size.
SIZES = {
    "crawl_dedup": {"full": dict(n=2_000, cap=8), "tiny": dict(n=600, cap=4)},
    "train_pipeline": {"full": dict(n=2_500), "tiny": dict(n=600)},
}
FACTORIES = {"crawl_dedup": W.CrawlDedup, "train_pipeline": W.TrainPipeline}
# A full-size output scoring below these fails its check. The tiny
# self-test input plants too few groups for a ratio floor to mean much, so
# it is held to the structural and CRC checks only.
FLOORS = {"pair_recall": 0.98, "pair_precision": 0.98,
          "flag_recall": 0.98, "flag_precision": 0.98}

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
              "peak_rss_mb": "MB", "pair_recall": "ratio",
              "pair_precision": "ratio"}

# Layers and their metrics. Every per-layer metric is emitted on every
# workload; a layer the workload does not run reads 0.
LAYERS = ("minhash", "pairs", "components", "pipeline", "curate",
          "tiers.exact", "tiers.near", "tiers.semantic", "checkpoint",
          "crosscorpus")
BASE = (("self_s", "s"), ("driver_s", "s"), ("jobs", "count"),
        ("stages", "count"), ("tasks", "count"), ("shuffle_mb", "MB"),
        ("spill_mb", "MB"), ("failed_tasks", "count"))
PYTHON = (("python_s", "s"), ("arrow_mb", "MB"))
PYTHON_LAYERS = ("minhash", "curate", "tiers.semantic", "checkpoint")
COUNTS = (("pairs.candidates", "count"), ("pairs.verified_frac", "ratio"),
          ("pairs.hot_buckets", "count"), ("components.edges", "count"),
          ("components.distributed", "bool"),
          ("curate.docs_kept_frac", "ratio"),
          ("tiers.exact.dropped", "count"), ("tiers.near.dropped", "count"),
          ("tiers.semantic.dropped", "count"),
          ("checkpoint.reused_frac", "ratio"), ("checkpoint.write_mb", "MB"),
          ("checkpoint.bytes_ratio", "ratio"),
          ("crosscorpus.dup_frac", "ratio"),
          ("crosscorpus.blank_flagged", "count"))
# ``verb`` is a plain call after the warm-up; cold_extra_s is how much
# longer the warm-up call took than it.
VERB = (("wall_s", "s"), ("cold_extra_s", "s"), ("driver_s", "s"),
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_mb", "MB"), ("python_s", "s"))
TRACE = (("trace.staged_s", "s"), ("trace.overhead_s", "s"),
         ("trace.unlabelled_s", "s"))


def per_layer_units() -> dict[str, str]:
    units = {}
    for layer in LAYERS:
        for m, u in BASE + (PYTHON if layer in PYTHON_LAYERS else ()):
            units[f"{layer}.{m}"] = u
    units.update(COUNTS)
    units.update({f"verb.{m}": u for m, u in VERB})
    units.update(TRACE)
    return units


class PeakMemory(threading.Thread):
    """Peak resident memory of every process below this one, the JVM and
    the Python workers it forks, as the sum of each process's own peak.

    Each peak is the kernel's high-water mark (``VmHWM``), reset when
    sampling starts, so it is exact per process however short the spike;
    sampling only has to find the processes, and one that exits between
    two samples loses just its last growth. Pages that forked workers share
    with their daemon count once per process."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb: dict[int, int] = {}
        self._halt = threading.Event()

    @staticmethod
    def _tree(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], list(children.get(root, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def start(self) -> None:
        for pid in self._tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")       # reset the peak to the current RSS
            except OSError:
                pass
        super().start()

    def sample(self) -> None:
        for pid in self._tree(os.getpid()):
            kb = self._hwm_kb(pid)
            if kb:
                self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)

    def run(self):
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return sum(self.peak_kb.values()) / 1024.0


def session(work: str, trace: bool):
    from pysparkdedup.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Calls:
    """Runs checked calls and keeps the tally: a call fails when it raises,
    when a check fails, or when its output CRC differs from the first.
    ``wall`` is the last call's time from input frames to collected result;
    preparation and checks fall outside it. Each call runs in its own cache
    scope; with ``counts`` the workload's layer counts are taken inside it,
    after ``wall``, while the call's cached frames are still live."""

    def __init__(self, wl, spark, inp, corrupt: bool, floors: dict):
        self.wl, self.spark, self.inp = wl, spark, inp
        self.corrupt, self.floors = corrupt, floors
        self.attempted = self.failed = 0
        self.crc = None
        self.wall = 0.0
        self.counts: dict = {}
        self.failures: list[str] = []

    def __call__(self, span=W.no_span, counts=False):
        from pysparkdedup.cache import cache_scope

        self.attempted += 1
        self.wl.prepare(self.inp)
        quality, errors = None, []
        t = time.perf_counter()
        try:
            with cache_scope():
                out = self.wl.run(self.spark, self.inp, span)
                self.wall = time.perf_counter() - t
                if counts:
                    self.counts = self.wl.layer_counts(
                        self.spark, self.inp, out, span)
            if self.corrupt:
                damage(out)
            quality, errors = self.wl.check(self.inp, out)
        except Exception:
            self.wall = time.perf_counter() - t
            out = None
            errors = [traceback.format_exc(limit=4)]
        for name, floor in self.floors.items():
            if quality and name in quality and quality[name] < floor:
                errors.append(f"{name} {quality[name]:.4f} below {floor}")
        if out is not None:
            crc = out.crc()
            if self.crc is None:
                self.crc = crc
            elif crc != self.crc:
                errors.append(f"output crc {crc:x} differs from "
                              f"{self.crc:x}")
        if errors:
            self.failed += 1
            self.failures += errors
        return out, quality


def damage(out) -> None:
    """Self-test hook: give one output row a url the input never had, the
    way a wrong engine result would."""
    for table in out.tables.values():
        if len(table):
            table.loc[table.index[len(table) // 2], "url"] = (
                "https://corrupt.example/")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def measure(args) -> tuple[dict, Calls]:
    wl = FACTORIES[args.workload](**SIZES[args.workload][
        "tiny" if args.tiny else "full"])
    work = os.path.abspath(args.work)
    for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)

    t0 = time.perf_counter()
    spark = session(work, args.trace)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        t = time.perf_counter()
        inp = wl.build(spark, args.seed, os.path.join(work, "input"))
        build_s = time.perf_counter() - t
        calls = Calls(wl, spark, inp, args.corrupt,
                      {} if args.tiny else FLOORS)
        # memory peaks over the warm-up call and the timed calls
        mem = PeakMemory()
        mem.start()
        calls()
        warmup_s = calls.wall
        setup_s = time.perf_counter() - t0

        if args.trace:
            traced = W.Spans(spark)
            with traced("verb"):
                calls()
            warm_s = calls.wall
            calls(traced, counts=True)
            staged_s = calls.wall
            mem.stop()
            spark.stop()
            spark = None
            from eventlog import group_table, read_events

            table = group_table(read_events(os.path.join(work, "eventlog")),
                                traced.spans)
            metrics = layer_metrics(table, calls.counts)
            metrics.update({
                "verb.wall_s": warm_s,
                "verb.cold_extra_s": warmup_s - warm_s,
                "trace.staged_s": staged_s,
                "trace.overhead_s": staged_s - warm_s,
                "trace.unlabelled_s": staged_s - traced.self_s(LAYERS)})
            return metrics, calls

        walls, qualities = [], []
        ticks0 = cpu_ticks()
        loop_start = time.perf_counter()
        while not walls or time.perf_counter() - loop_start < args.seconds:
            _out, quality = calls()
            walls.append(calls.wall)
            if quality is not None:
                qualities.append(quality)
        peak_mb = mem.stop()
        ticks1 = cpu_ticks()
        wall = statistics.median(walls)
        # diagnostics, not metrics: the calls, the set-up split, and the
        # share of the machine's CPU time its hypervisor took back (steal)
        # while the loop ran, which slows every call alike
        print(json.dumps({
            "input_docs": inp.docs, "input_text_bytes": inp.text_bytes,
            "output_crc": f"{calls.crc or 0:016x}", "walls_s": walls,
            "session_s": session_s, "build_s": build_s,
            "warmup_s": warmup_s,
            "steal_frac": (ticks1[1] - ticks0[1])
            / max(ticks1[0] - ticks0[0], 1),
            "quality": qualities[-1] if qualities else None}), flush=True)

        def med(name):
            return (statistics.median(q[name] for q in qualities)
                    if qualities else 0.0)

        return {"setup_s": setup_s, "wall_s": wall,
                "docs_per_s": inp.docs / wall, "peak_rss_mb": peak_mb,
                "pair_recall": med("pair_recall"),
                "pair_precision": med("pair_precision")}, calls
    finally:
        if spark is not None:
            spark.stop()


def layer_metrics(table, counts) -> dict:
    units = per_layer_units()
    out = {name: 0.0 for name in units}
    for layer in LAYERS:
        for m, value in table.get(layer, {}).items():
            if f"{layer}.{m}" in units:
                out[f"{layer}.{m}"] = value
    verb = table.get("verb", {})
    for m, _u in VERB:
        if m in verb:
            out[f"verb.{m}"] = verb[m]
    out.update(counts)
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(FACTORIES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--corrupt", action="store_true")
    args = p.parse_args()
    metrics, calls = measure(args)
    for f in calls.failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    units = per_layer_units() if args.trace else END_TO_END
    print(json.dumps({
        "correct": calls.failed == 0,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }), flush=True)
    return 0 if calls.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
