"""Benchmark entry point.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload fetch_bulk --seed 1 --seconds 10 --trace 0

Prints one line per metric (name, value, unit, sample count) and, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
per-layer metrics. Exits non-zero, without a result line, when the
program cannot run, and non-zero after the result line when an output
was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def _process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start_epoch()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def pin_environment() -> dict[str, str]:
    """Settings the measurements depend on, fixed here so that every run
    uses the same ones, whatever the caller's environment holds."""
    tmp = os.path.join(WORK, "tmp")
    pinned = {
        # local[<cores>] and as many shuffle partitions (the session
        # defaults to 32 of each, whatever the box has)
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # Python UDF workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        # the program's scratch stores and streaming checkpoints
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    for var in ("SPARK_MASTER", "SPARK_ENV_LOADED"):  # would leave local mode
        os.environ.pop(var, None)
    os.environ.update(pinned)
    return pinned


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    for path in ("bqfetch_spark", "tests/conftest.py"):
        if not os.path.exists(os.path.join(ROOT, path)):
            print(f"perfbench: {path} missing under {ROOT}", file=sys.stderr)
            return 2

    for sub in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    pinned = pin_environment()
    sys.path.insert(0, ROOT)
    os.chdir(WORK)  # spark-warehouse, derby.log and the like land here

    from perfbench import stats
    from perfbench.engine import Run, shutdown

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), PROCESS_START, WORK)
    try:
        run.execute()
        e2e, detail = run.end_to_end()
        layers = run.per_layer() if args.trace else {}
        spans = run.write_spans() if args.trace else None
    finally:
        shutdown(run.spark)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)

    measured = dict(e2e, **layers)
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 2

    print("perfbench env: " + " ".join(f"{k}={v}" for k, v in sorted(pinned.items())))
    print(
        f"perfbench run: workload={args.workload} seed={args.seed} trace={args.trace} "
        f"master={run.info['master']} shuffle_partitions={run.info['shuffle_partitions']}"
    )
    print(
        "perfbench setup: "
        + ", ".join(
            f"{k}={run.info[k]:.3f}"
            for k in ("session_start_s", "catalog_load_s", "prepare_s")
        )
        + f", warmup_pass_s={[round(x, 3) for x in run.info['warmup_pass_s']]}"
    )
    counts = {
        "setup_s": 1,
        "ops_per_s": detail["ops"],
        "op_geomean_s": len(detail["kind_p50_s"]),
        "peak_rss_mb": 1,
    }
    for m in spec["end_to_end"]:
        print(
            f"metric {m['name']} = {e2e[m['name']]:.6g} {m['unit']} "
            f"(n={counts.get(m['name'], 1)})"
        )
    if args.workload == "fetch_bulk":  # printed, not gated (see metrics.json)
        tail = detail["chunk_tail"]
        print(f"metric rows_per_s = {detail['rows_per_s']:.6g} rows/s (n={detail['passes']} passes)")
        print(f"metric first_result_s = {detail['first_result_s']:.6g} s (n={detail['passes']})")
        print(f"metric chunk_p50_s = {detail['chunk_p50_s']:.6g} s (n={tail['n']})")
        print(
            f"metric chunk_tail_s = {tail['value']:.6g} s (p{tail['pct']}, "
            f"{tail['beyond']} beyond, n={tail['n']})"
        )
    for name in sorted(layers):
        print(f"layer {name} = {layers[name]:.6g}")
    print(
        f"metric failed_frac = {stats.failed_frac(run.failed, run.attempted):.6g} 1 "
        f"(failed={run.failed}, attempted={run.attempted})"
    )
    extra = {
        "detail": detail,
        "box": {
            "canary_start_s": run.info["canary_start_s"],
            "canary_end_s": run.info["canary_end_s"],
            "load1": run.info["load1"],
        },
        "failures": run.failures,
    }
    if args.trace:
        extra["counts_repeat"] = run.info["counts_repeat"]
        extra["counts_per_traced_pass"] = run.info["counts_per_traced_pass"]
        self_s: dict[str, float] = {}
        for name, sec in run.tracer.self_durations():
            self_s[name] = self_s.get(name, 0.0) + sec
        extra["self_s"] = {k: round(v, 6) for k, v in sorted(self_s.items())}
        extra["spans_file"] = os.path.relpath(spans, ROOT)
    print("perfbench detail: " + json.dumps(extra, default=float))

    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
