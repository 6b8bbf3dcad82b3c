"""One benchmark process: start Spark, build a workload's inputs, run
the workload's first job in this fresh driver as its warm-up, time the
jobs that follow for ``--seconds``, and check every output.

The first job of a fresh driver JVM pays class loading, code generation
and most of the JIT (corpus_build: about 2.5 times a later job), and it
keeps every core busy, so it is the sample a noisy host disturbs most.
It counts as set-up; the end-to-end times are medians over the later
jobs. On ingest_resume the warm-up is the ingest, and each later job is
a resume on a copy of the ingested work dir. ``--seconds 0`` times one
job after the warm-up; ``perfbench/run.py`` asks for that under
``--trace 1``.

With ``--trace 1`` the Spark driver runs with an uncompressed event log
(set through the submit arguments by ``perfbench/run.py``); after the
timed job each pipeline prefix runs under its own job group and the
event log is read once Spark stops.

Started by ``perfbench/run.py``, which sets the environment (work and
temp directories, Spark submit arguments) and collects the JSON this
process writes to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from unittest import mock

from perfbench import eventlog, sysmon
from perfbench import workloads as WL

WORKLOADS = {"corpus_build": WL.CorpusBuild,
             "ingest_resume": WL.IngestResume}


def start_spark():
    """The program's own session factory on local[$(nproc)].

    get_spark points spark.local.dir at /dev/shm when it exists; the
    benchmark keeps every write inside its checkout, so that probe is
    answered 'absent' here and SPARK_LOCAL_DIRS (which Spark prefers
    over spark.local.dir anyway) names the checkout's scratch dir."""
    from optimizerasters_spark import session
    real_isdir = os.path.isdir
    with mock.patch.object(session.os.path, "isdir",
                           lambda p: p != "/dev/shm" and real_isdir(p)):
        spark = session.get_spark(
            "perfbench", master=f"local[{os.cpu_count()}]",
            shuffle_partitions=str(2 * os.cpu_count()))
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobGroup("bench", "bench")
    return spark


class Sampler:
    """Wall time, process-tree CPU and host contention of each sample."""

    def __init__(self):
        self.samples: list[dict] = []

    def timed(self, fn):
        pid = os.getpid()
        c0 = sysmon.tree_cpu(pid)
        with sysmon.Contention() as host:
            t0 = time.perf_counter()
            result = fn()
            wall = time.perf_counter() - t0
        c1 = sysmon.tree_cpu(pid)
        s = {"wall_s": wall, **host.record}
        s.update({f"cpu_{k}_s": c1[k] - c0[k] for k in c0})
        self.samples.append(s)
        return result


class Run:
    """One Spark session's set-up, timed jobs and checks."""

    def __init__(self, spark, args, failures: list[str]):
        self.spark, self.args, self.failures = spark, args, failures
        self.sampler = Sampler()
        self.runs: list = []
        self.con = None

    def setup(self) -> float:
        """Input generation three times; returns the median time."""
        gen = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.wl = WORKLOADS[self.args.workload](WL.Inputs(
                self.spark, self.args.work, self.args.seed, self.args.small))
            gen.append(time.perf_counter() - t0)
        self.chain = not isinstance(self.wl, WL.IngestResume)
        self.con = WL.duck_connect(self.args.work, self.wl.inp.dim_path)
        return statistics.median(gen)

    def job(self) -> None:
        """One job: the whole pipeline, or on ingest_resume the ingest
        first and a resume after it."""
        sc, wl, k = self.spark.sparkContext, self.wl, len(self.runs)
        if self.chain:
            sc.setJobGroup(f"job#{k}", "job")
            self.runs.append(self.sampler.timed(
                lambda: WL.noop_reduce(wl.output(), wl.checksum)))
            sc.setJobGroup("bench", "bench")
            return
        out = self.sampler.timed(
            lambda: wl.ingest(f"m{k}") if k == 0 else wl.resume(f"m{k}"))
        # copying the ingested work dir is not part of the resume
        self.sampler.samples[-1]["wall_s"] = out["job_s"]
        self.runs.append(out)

    def measure(self, window: float) -> None:
        """The warm-up job, then timed jobs for ``window`` seconds of job
        time: at least one, and another only while it is expected to end
        within the window."""
        self.job()
        spent = 0.0
        while True:
            self.job()
            spent += self.sampler.samples[-1]["wall_s"]
            if spent + self.sampler.samples[-1]["wall_s"] > window:
                return

    def check(self) -> dict[str, int]:
        """Compare every job's output with the oracle (on ingest_resume,
        every resume's work dir); returns the oracle's row count after
        each stage of a chained pipeline."""
        if not self.chain:
            for k, out in enumerate(self.runs[1:], 1):
                ok, msg = self.wl.check(self.con, out["workdir"])
                if not ok:
                    self.failures.append(f"run {k}: {msg}")
            return {}
        want, stage_rows = self.wl.expected(self.con)
        for k, got in enumerate(self.runs):
            if tuple(got) != tuple(want):
                self.failures.append(
                    f"run {k}: output {got} != oracle {want}")
        empty = [s for s, n in stage_rows.items() if n == 0]
        if empty:
            self.failures.append(f"empty stages: {empty}")
        return stage_rows


def engine_layers(r: Run) -> dict[str, float]:
    """ingest_resume's engine, ledger and bytes-written layers, from the
    ingest and the first resume."""
    ingest, first = r.runs[0], r.runs[1]
    wd = first["workdir"]
    out = {"engine.ingest_s": ingest["ingest_s"],
           "engine.resume_s": first["resume_s"]}
    out.update(r.wl.stage_metrics(first))
    out["engine.written_mb"] = sysmon.dir_mb(wd)
    out["engine.page_tiles_mb"] = sysmon.dir_mb(os.path.join(wd, "page_tiles"))
    out["ledger.mb"] = sysmon.dir_mb(os.path.join(wd, "ledger"))
    delta = os.path.join(wd, "ledger", "delta")
    out["ledger.delta_files"] = float(sum(
        n.startswith("_COMMITTED.") for n in os.listdir(delta))
        if os.path.isdir(delta) else 0)
    return out


def _time_job(spark, group: str, fn) -> float:
    """Wall time of ``fn()`` sent to the noop sink, under its own job
    group."""
    spark.sparkContext.setJobGroup(f"{group}#0", group)
    t0 = time.perf_counter()
    WL.noop_reduce(fn())
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("bench", "bench")
    return wall


def prefix_layers(r: Run, wl, stage_rows: dict[str, int],
                  layer: dict[str, float]) -> list[str]:
    """Self time of each layer of the chained pipeline ``wl``: its prefix
    sent to the noop sink, minus the previous prefix. Each prefix runs
    once, so that a traced run stays within the time limit; it also
    counts its rows, which must be non-empty and equal the oracle's
    where it has them, and the last prefix's output is checked.
    Returns the prefixes' job groups."""
    sc = r.spark.sparkContext
    layers = wl.layers()
    prev = 0.0
    for i, (name, df) in enumerate(layers):
        sc.setJobGroup(f"{name}#0", name)
        last = i == len(layers) - 1
        t = time.perf_counter()
        got = WL.noop_reduce(df, wl.checksum if last else ())
        spent = time.perf_counter() - t
        layer[f"{name}_s"] = spent - prev
        prev = spent
        rows = got[0]
        layer[WL.rows_metric(name)] = float(rows)
        if rows == 0:
            r.failures.append(f"{name}: no rows")
        if name in stage_rows and rows != stage_rows[name]:
            r.failures.append(
                f"{name}: {rows} rows, oracle {stage_rows[name]}")
        if last:
            want, _ = wl.expected(r.con)
            if got != tuple(want):
                r.failures.append(
                    f"{wl.name} prefixes: output {got} != oracle {want}")
    sc.setJobGroup("bench", "bench")
    layer.update(wl.trace_counts(layer))
    return [f"{name}#0" for name, _ in layers]


def spark_layers(stages: dict[str, list], groups: list[str], chain: bool
                 ) -> dict[str, float]:
    """Each layer's own executor run time and shuffle bytes written: the
    prefix's minus the previous prefix's when ``groups`` are cumulative
    prefixes of one pipeline, each group's own otherwise."""
    out: dict[str, float] = {}
    prev = {"executor_run_s": 0.0, "shuffle_write_mb": 0.0}
    for g in groups:
        m = eventlog.summarize(stages.get(g, []))
        for k in prev:
            out[f"{g.split('#')[0]}.{k}"] = m[k] - prev[k]
        if chain:
            prev = {k: m[k] for k in prev}
    return out


def run(args) -> dict:
    t_proc = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t_proc
    failures: list[str] = []
    r = Run(spark, args, failures)
    setup = {"session_s": session_s, "inputs_s": r.setup()}
    r.measure(args.seconds)
    peak_rss_mb = sysmon.tree_peak_rss_mb(os.getpid())
    stage_rows = r.check()
    setup["warmup_s"] = r.sampler.samples[0]["wall_s"]
    timed = r.sampler.samples[1:]
    job_s = statistics.median(s["wall_s"] for s in timed)
    result = {
        "end_to_end": {
            "setup_s": sum(setup.values()),
            "job_s": job_s,
            "rows_per_s": r.wl.input_rows() / job_s,
            "cpu_s": statistics.median(s["cpu_total_s"] for s in timed),
        },
        "detail": {"setup": setup, "samples": r.sampler.samples,
                   "stage_rows": stage_rows, "failures": failures},
    }
    attempted = len(r.runs)
    layer: dict[str, float] = {
        "mem.peak_rss_mb": peak_rss_mb,
        "exec.python_cpu_s": timed[0]["cpu_python_udf_s"],
        "exec.jvm_cpu_s": timed[0]["cpu_jvm_s"],
    }
    if args.trace:
        if r.chain:
            job_groups = ["job#1"]
            chains = [prefix_layers(r, r.wl, stage_rows, layer)]
            standalone = []
        else:
            layer.update(engine_layers(r))
            layer.update(r.wl.ledger_probe(
                lambda g, fn: _time_job(spark, g, fn)))
            if int(layer["ledger.pending_rows"]) != r.wl.n_delta:
                failures.append(f"pending rows {layer['ledger.pending_rows']}"
                                f" != delta {r.wl.n_delta}")
            job_groups = [r.runs[1]["resume_group"]]
            standalone = [r.runs[0]["ingest_group"], *job_groups,
                          "ledger.read#0", "ledger.pending#0"]
            # the flagship tile pipeline over a read-only page range: the
            # dedup and spatial layers the engine calls, cut one by one
            chains = [prefix_layers(r, WL.TileJoin(r.wl.inp), {}, layer)]
        attempted += 1
    r.con.close()
    stop_spark(spark)
    if args.trace:
        stages = eventlog.group_stages(os.path.join(args.work, "eventlog"))
        whole = eventlog.summarize(
            [st for g in job_groups for st in stages.get(g, [])])
        layer.update({f"spark.{m}": v for m, v in whole.items()})
        layer.update(spark_layers(stages, standalone, chain=False))
        for groups in chains:
            layer.update(spark_layers(stages, groups, chain=True))
    result.update(per_layer=layer, attempted=attempted,
                  failed=min(len(failures), attempted),
                  correct=not failures)
    return result


def stop_spark(spark) -> None:
    """Stop Spark, close the JVM and wait until it and the Python
    workers it forked have ended."""
    from pyspark import SparkContext
    tree = [p for p in sysmon.tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in tree):
            return
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
