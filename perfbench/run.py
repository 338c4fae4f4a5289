"""sparkmill benchmark: one workload per run, from the root of a checkout.

    python3 perfbench/run.py --workload streaming --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` reports its per-layer metrics, from a traced window that runs
after an untraced one (the difference is the tracing overhead). The last
line of standard output is the result object; the line before it is the
run record (each phase's numbers under their own names with their units,
correctness detail, host calibration). ``--workload all`` runs every
workload in turn and also prints each run-record metric on a line of its
own. ``--smoke`` shrinks every input for quick tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("streaming", "analytics_sf0.1")
# set-ups per run; the first also starts the JVM, so the median is a restart
SETUP_REPS = 3
# Spark cores: at most nproc, and at most 4 so that runs on larger hosts
# stay comparable with the sizing this benchmark was tuned on
MAX_CORES = 4


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    tracer: object = None


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def _preflight() -> tuple[dict, dict]:
    """The checkout must hold the program and the benchmark's definition.
    Returns BENCHMARK.json and the metric definitions."""
    for rel in ("watermill_spark/__init__.py", "tests/oracle_harness.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {ROOT}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f, \
            open(os.path.join(ROOT, "perfbench", "metrics.json")) as g:
        return json.load(f), json.load(g)


def _with_units(values: dict, units: dict) -> dict:
    """``values`` with each number replaced by ``{"value", "unit"}``, the
    units taken from the same place in ``units``."""
    return {k: _with_units(v, units[k]) if isinstance(v, dict) else {"value": float(v), "unit": units[k]}
            for k, v in values.items()}


def _flat(metrics: dict, prefix: str = ""):
    """(dotted name, value, unit) of every metric in a run record."""
    for k, v in metrics.items():
        if "unit" in v:
            yield prefix + k, v["value"], v["unit"]
        else:
            yield from _flat(v, f"{prefix}{k}.")


def _environment(work: str) -> None:
    """Confine the run to the checkout and make the package importable by
    Spark's Python workers (a stateful kernel is pickled by reference)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_CACHE_TABLES", None)  # table cache off
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # no JVM perf-data file in the host's /tmp
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _workload(name: str, ctx: Ctx):
    if name == "streaming":
        from perfbench.streaming import Streaming

        return Streaming(ctx)
    from perfbench.analytics import Analytics

    return Analytics(ctx)


def run_one(args, spec: dict, defs: dict) -> tuple[dict, dict]:
    """Run one workload; returns (record, result)."""
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run_in(work, args, spec, defs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_in(work: str, args, spec: dict, defs: dict) -> tuple[dict, dict]:
    _environment(work)
    from perfbench.measure import Session, Tracer, calibrate, peak_rss_mb

    ctx = Ctx(ROOT, work, args.seed, args.seconds, bool(args.trace), args.smoke, Tracer())
    phases = {}
    t = time.perf_counter()
    wl = _workload(args.workload, ctx)
    wl.prepare()
    phases["prepare_s"] = time.perf_counter() - t
    session = Session(f"perfbench-{args.workload}")
    try:
        setup_s, starts = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            starts.append(session.start())
            wl.setup(session.spark)
            setup_s.append(time.perf_counter() - t0)
        t = time.perf_counter()
        res = wl.measure(session.spark)
        phases["measure_s"] = time.perf_counter() - t
        rss = peak_rss_mb([os.getpid(), session.jvm_pid()])
        calib = calibrate(session.spark)
    finally:
        session.close()

    failed = sum(res["failures"].values())
    e2e = {"setup_s": statistics.median(setup_s), **res["e2e"]}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "metrics": _with_units(
            {"setup_s": e2e["setup_s"], **res["phase_metrics"],
             "failed_frac": failed / res["attempted"], "peak_rss_mb": rss},
            {**defs["run_record"]["all"], **defs["run_record"][args.workload]}),
        "e2e": e2e, "details": res["details"],
        "failures": res["failures"], "invalid": res["invalid"], "setup_runs_s": setup_s,
        "session_start_s": starts[0], **phases, **calib,
    }
    if args.trace:
        traced = res["traced_e2e"]
        layers = {"session.start_s": starts[0], "session.peak_rss_mb": rss, **res["layers"],
                  "trace.overhead_pct": 100.0 * (traced["latency_p50_ms"] / e2e["latency_p50_ms"] - 1.0)}
        names = [m["name"] for m in spec["per_layer"]]
        record["not_exercised"] = sorted(set(names) - set(layers))
        record["traced_e2e"] = traced
        record["self_s"] = ctx.tracer.self_seconds()
        trace_path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl")
        ctx.tracer.write(trace_path)
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {"correct": failed == 0 and not res["invalid"], "attempted": int(res["attempted"]),
              "failed": int(failed), "metrics": metrics}
    return record, result


def main(argv=None) -> int:
    args = _args(argv)
    spec, defs = _preflight()
    # on SIGTERM, unwind: stop the JVM and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        rc = 0
        for name in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
            if proc.returncode != 0:
                print(f"{name}: exit {proc.returncode}", flush=True)
                rc = rc or proc.returncode
                continue
            lines = proc.stdout.strip().splitlines()
            for metric, value, unit in _flat(json.loads(lines[-2])["metrics"]):
                print(f"{name}  {metric}  {value:.6g} {unit}")
            print("\n".join(lines[-2:]), flush=True)
        return rc
    record, result = run_one(args, spec, defs)
    print(json.dumps(record, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
