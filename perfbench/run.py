"""Benchmark entry point.

    python3 perfbench/run.py --workload match_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. One single-client closed loop on
``local[<cores>]``: set up (Spark session, seeded input, warm-up), then
run checked passes until ``--seconds`` have passed (at least one). The
last line of standard output is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics, from a
separate run whose passes are traced. Every temporary file stays under
``.perfbench_work/`` in the working directory and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
GEN_REPEATS = 3
LAYER_COUNTERS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "executor_run_s": "s", "driver_only_s": "s", "core_util": "ratio",
}
EXTRA_UNITS = {"cached_mb": "MB", "mb_written": "MB", "state_mb": "MB"}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _confine(work: str) -> None:
    """Point every temporary path of this process and the JVM it starts
    into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a 2 GB driver heap holds these inputs many times over, and keeps
    # the run small on a shared host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # -XX:-UsePerfData: else each JVM (the launcher's too) maps a file
    # under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS"),
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
        "-Dspark.ui.showConsoleProgress=false",
    ]))


# -- peak resident memory of the driver JVM and the Python processes ----


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree_pids(root_pid: int) -> list[int]:
    kids, out, todo = _children(), [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _reset_hwm(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def _hwm_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


# -- the run -------------------------------------------------------------


def _layer_values(col) -> dict[str, float]:
    """Per layer and pass, the counters summed over the layer's calls
    (gauges such as state size take the pass's last value, and
    ``core_util`` is recomputed from the sums); then the median over
    passes. A layer that does not run on this workload reports 0."""
    from workloads import GAUGES, WORKLOADS

    per_pass: dict[tuple[int, str], dict[str, float]] = {}
    for span in col.spans:
        acc = per_pass.setdefault((span.pass_id, span.name), {})
        for k, v in {**col.layer_metrics(span), **span.counters}.items():
            acc[k] = float(v) if k in GAUGES else acc.get(k, 0.0) + float(v)
    vals: dict[str, list[float]] = {}
    for (_pid, layer), acc in per_pass.items():
        wall = acc["wall_s"]
        acc["core_util"] = acc["executor_run_s"] / (wall * col.cores) if wall > 0 else 0.0
        for k, v in acc.items():
            vals.setdefault(f"{layer}.{k}", []).append(v)
    out = {}
    for cls in WORKLOADS.values():
        for layer, extras in cls.LAYERS.items():
            for k in [*LAYER_COUNTERS, *extras]:
                xs = vals.get(f"{layer}.{k}", [])
                out[f"{layer}.{k}"] = float(statistics.median(xs)) if xs else 0.0
    return out


def layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    from workloads import WORKLOADS

    units = {}
    for cls in WORKLOADS.values():
        for layer, extras in cls.LAYERS.items():
            for k, u in LAYER_COUNTERS.items():
                units[f"{layer}.{k}"] = u
            for k in extras:
                units[f"{layer}.{k}"] = EXTRA_UNITS.get(k, "count")
    units["pass.self_s"] = "s"
    units["trace.pass_wall_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def run(args) -> dict:
    from checks import tree_digest
    from collector import Collector
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _confine(work)
    spark = None
    try:
        t0 = time.time()
        from cod_stats_spark.session import get_spark

        spark = get_spark("perfbench", cpus=os.cpu_count())
        session_s = time.time() - t0
        col = Collector(spark, trace=False)
        wl = WORKLOADS[args.workload](spark, col)

        gen_s, hashes, gt = [], set(), None
        for k in range(GEN_REPEATS):
            dest = os.path.join(work, f"input{k}")
            t = time.time()
            g = wl.generate(dest, args.seed)
            gen_s.append(time.time() - t)
            hashes.add(tree_digest(dest))
            if k == 0:
                gt = g
            else:
                shutil.rmtree(dest)
        if len(hashes) != 1:
            raise RuntimeError("input generation is not deterministic for this seed")
        t = time.time()
        wl.prepare(gt)
        setup_s = session_s + statistics.median(gen_s) + time.time() - t
        col.spans.clear()

        jvm = spark.sparkContext._gateway.proc.pid
        procs = lambda: [os.getpid(), *_tree_pids(jvm)]  # noqa: E731
        _reset_hwm(procs())

        col.trace = bool(args.trace)
        walls, steps, units, out_bytes = [], [], [], 0
        self_s, overhead_s = [], []
        start, pid = time.time(), 0
        while pid == 0 or time.time() - start < args.seconds:
            pass_dir = os.path.join(work, f"pass{pid}")
            n_spans, collect0 = len(col.spans), col.collect_s
            t = time.time()
            try:
                res = wl.run_pass(pid, pass_dir)
                wall = time.time() - t
                units += [not fs for _u, fs in res.units]
                for u, fs in res.units:
                    for m in fs:
                        print(f"# pass {pid} {u}: {m}", file=sys.stderr)
                out_bytes += res.out_bytes
                steps += res.steps or [wall]
            except Exception as exc:  # a failed pass is counted, and the run goes on
                wall = time.time() - t
                print(f"# pass {pid} failed: {exc!r}", file=sys.stderr)
                units.append(False)
                steps.append(wall)
            shutil.rmtree(pass_dir, ignore_errors=True)
            walls.append(wall)
            overhead_s.append(col.collect_s - collect0)
            self_s.append(wall - overhead_s[-1]
                          - sum(s.wall_s for s in col.spans[n_spans:]))
            pid += 1
        peak = _hwm_mb(procs())
        passes = len(walls)

        attempted, failed = len(units), units.count(False)
        print(f"# {args.workload} seed={args.seed}: {passes} passes, {len(steps)} steps, "
              f"pass walls {[round(w, 2) for w in walls]}", file=sys.stderr)
        if args.trace:
            metrics = _layer_values(col)
            metrics["pass.self_s"] = statistics.median(self_s)
            metrics["trace.pass_wall_s"] = statistics.median(walls)
            metrics["trace.overhead_s"] = statistics.median(overhead_s)
            units_of = layer_units()
            metrics = {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()}
        else:
            in_bytes = gt["in_bytes"]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": statistics.median(walls), "unit": "s"},
                "step_p50_s": {"value": statistics.median(steps), "unit": "s"},
                "ok_ratio": {"value": (attempted - failed) / attempted, "unit": "ratio"},
                "out_bytes_per_in_byte": {
                    "value": out_bytes / passes / in_bytes, "unit": "B/B"},
                "peak_rss_mb": {"value": peak, "unit": "MB"},
            }
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        if spark is not None:
            proc = spark.sparkContext._gateway.proc
            spark.stop()
            spark.sparkContext._gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cod_stats_spark", "__init__.py")):
        print("perfbench: run from the repository root (cod_stats_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
