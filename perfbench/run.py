#!/usr/bin/env python3
"""tileforge benchmark.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 25 \\
        --trace 0

Runs from the root of a checkout. Workloads, metrics, units and bounds
are declared in BENCHMARK.json; perfbench/NOTES.md says what each
workload loads and why. Every output is checked against an independent
DuckDB computation. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); the
line before it holds the per-sample detail (host contention beside each
sample, set-up parts, stage row counts, failures).

``--trace 1`` runs the workload twice, each in a fresh driver process:
untraced, then with an uncompressed Spark event log (set through the
submit arguments) and one job group per pipeline prefix. It reports the
per-layer metrics of the traced process; ``trace.overhead_s`` is traced
minus untraced ``job_s``.

All files go under ``.perfbench/`` in the checkout and are removed when
the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
DEADLINE_S = 175.0


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if int(raw[raw.rindex(")") + 2:].split()[2]) == pgid:
            return True
    return False


def end_group(pgid: int) -> None:
    """Terminate what is left of a child's process group and wait until
    every member has ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def worker_env(work: str, trace: bool) -> dict[str, str]:
    """Environment of the driver process: temp files, Spark local dirs
    and (traced) the event log all inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
              "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    return dict(os.environ,
                PYTHONPATH=ROOT, TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                PYSPARK_PYTHON=sys.executable,
                PYSPARK_DRIVER_PYTHON=sys.executable,
                PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]))


def run_worker(args, work: str, trace: bool, deadline: float) -> dict:
    """One driver process; returns the JSON it wrote. Under ``--trace 1``
    both processes time one job after the warm-up, so that the traced
    run stays within the time limit."""
    out = os.path.join(work, "result.json")
    seconds = 0.0 if args.trace else args.seconds
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", str(int(trace)),
           "--work", work, "--out", out]
    if args.small:
        cmd.append("--small")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=worker_env(work, trace),
                            stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        end_group(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"worker for {args.workload} "
                           f"{'timed out' if code is None else f'exited {code}'}")
    with open(out) as f:
        return json.load(f)


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _metrics(values: dict[str, float], section: str) -> dict:
    """Every metric BENCHMARK.json declares in ``section``, with its unit.
    Every end-to-end metric must have been measured; a per-layer metric
    of a layer the workload does not load reads 0."""
    declared = _declared(section)
    missing = [n for n in declared if n not in values]
    if section == "end_to_end" and missing:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="smallest input sizes (self-test)")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "optimizerasters_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a tileforge checkout "
              "(optimizerasters_spark/ not found)", file=sys.stderr)
        return 2

    # a terminated benchmark still ends its driver processes (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        res = [run_worker(args, os.path.join(work, "plain"), False,
                          deadline)]
        if args.trace:
            res.append(run_worker(args, os.path.join(work, "traced"), True,
                                  deadline))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    if args.trace:
        plain, traced = res
        values = dict(traced["per_layer"])
        values["trace.job_s"] = traced["end_to_end"]["job_s"]
        values["trace.untraced_job_s"] = plain["end_to_end"]["job_s"]
        values["trace.overhead_s"] = (values["trace.job_s"] -
                                      values["trace.untraced_job_s"])
        metrics = _metrics(values, "per_layer")
    else:
        metrics = _metrics(res[0]["end_to_end"], "end_to_end")
    print(json.dumps({"detail": [r["detail"] for r in res]}))
    print(json.dumps({
        "correct": all(r["correct"] for r in res),
        "attempted": sum(r["attempted"] for r in res),
        "failed": sum(r["failed"] for r in res),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
