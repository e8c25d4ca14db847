"""End-to-end measurement: a closed loop with one client.

One process makes one job call at a time.  Every call gets a fresh
Spark context (``local[nproc]`` task threads) in the same driver JVM, so
frames a job caches and never unpersists cannot carry over into the next
call.  Job calls repeat until ``--seconds`` is spent (at least one) and
the run reports medians over its calls.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

from . import inputs, proctree, workloads

WARMUP_DOCS = 128
# How each workload's job script sets up a context, and how many set-up
# samples a run takes: all but one come from contexts opened and stopped
# without a job call, the last from the first job call's context.  jobs/extract_job.py
# broadcasts the weights and runs a small warm-up extraction;
# jobs/curate_job.py only builds the session.
SETUP = {
    "extract_mixed": ("extract_job", 1),
    "mm_curate": ("extract_job", 1),
    "curate_flat": ("curate_job", 5),
}


class Session:
    """Opens fresh Spark contexts the way the workload's job script does."""

    def __init__(self, style: str, tracer=None):
        self.style = style
        self.tracer = tracer

    def open(self, cpus: int, eventlog_dir: str | None = None):
        """Returns (spark, weights_bc or None, setup_s, get_spark_s)."""
        if eventlog_dir:
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = eventlog_dir
        else:
            os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
        from ocr_gang_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        t1 = time.perf_counter()
        bc = None
        if self.style == "extract_job":
            from ocr_gang_spark.pipeline import (
                broadcast_weights,
                extract_documents,
            )
            from ocr_gang_spark.synth import synth_documents, synth_media

            bc = broadcast_weights(spark)
            wdocs = synth_documents(spark, WARMUP_DOCS, seed=1)
            extract_documents(wdocs, synth_media(spark, wdocs), bc).write.mode(
                "overwrite").format("noop").save()
        t2 = time.perf_counter()
        if self.tracer:
            self.tracer.add("session.get_spark", t0, t1)
            self.tracer.add("session.setup", t0, t2)
        return spark, bc, t2 - t0, t1 - t0


def new_call(work: str, tag: str) -> workloads.Call:
    d = os.path.join(work, "calls", tag)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return workloads.Call(d)


def timed_call(workload: str, spark, bc, inp: dict, call) -> dict:
    """Run one job call; wall, process-tree CPU and peak RSS."""
    root = os.getpid()
    cpu0 = proctree.cpu_seconds(root)
    with proctree.PeakRss(root) as rss:
        t0 = time.perf_counter()
        workloads.RUNNERS[workload](spark, bc, inp, call)
        wall = time.perf_counter() - t0
    return {"wall_s": wall, "cpu_s": proctree.cpu_seconds(root) - cpu0,
            "peak_rss_mb": rss.peak_mb}


def checked_call(workload, session, cores, inp, oracle, work, tag):
    """Fresh context -> job call -> stop -> untimed output check."""
    spark, bc, setup_s, _ = session.open(cores)
    call = new_call(work, f"{workload}-{tag}")
    try:
        sample = timed_call(workload, spark, bc, inp, call)
    finally:
        spark.stop()
    outcome = oracle.check(call)
    shutil.rmtree(call.workdir, ignore_errors=True)
    return dict(sample, setup_s=setup_s), outcome


def prepare_input(workload: str, seed: int, work: str, cores: int) -> dict:
    """Generate (or reuse) the seeded input while the driver JVM launches
    in a thread, so no measured set-up includes the launch.  The
    curate_flat input is written through that first session."""
    from ocr_gang_spark.session import get_spark

    t0 = time.perf_counter()
    launched = []
    jvm = threading.Thread(target=lambda: launched.append(
        get_spark("perfbench-input", cpus=cores)))
    jvm.start()

    def session():
        jvm.join()
        if not launched:
            raise RuntimeError("the driver JVM did not start")
        return launched[0]

    try:
        inp = inputs.prepare(inputs.SPECS[workload], seed, work,
                             processes=cores, session=session)
        session()  # the launch must have worked, cached input or not
    finally:
        jvm.join()
        for spark in launched:
            spark.stop()
    return dict(inp, prepare_s=time.perf_counter() - t0)


def measure(workload: str, seed: int, seconds: float, cores: int,
            work: str) -> dict:
    from ocr_gang_spark.hostprobe import steal_probe

    style, n_setups = SETUP[workload]
    session = Session(style)
    inp = prepare_input(workload, seed, work, cores)
    oracle = workloads.Oracle(workload, inp)
    probe = steal_probe()
    # set-up-only contexts come first, so every job call follows the
    # same number of warm-ups in its JVM
    setups = []
    for _ in range(n_setups - 1):
        spark, _bc, setup_s, _ = session.open(cores)
        spark.stop()
        setups.append(setup_s)
    calls, outcomes = [], []
    start = time.perf_counter()
    while not calls or (time.perf_counter() - start) * (len(calls) + 1) \
            / len(calls) <= seconds:
        sample, outcome = checked_call(workload, session, cores, inp, oracle,
                                       work, len(calls))
        calls.append(sample)
        outcomes.append(outcome)
    setups += [c["setup_s"] for c in calls]

    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    metrics = {
        "docs_per_s": (statistics.median(
            o.committed / c["wall_s"] for o, c in zip(outcomes, calls)),
            "docs/s"),
        "core_s_per_kdoc": (statistics.median(
            1000 * c["cpu_s"] / o.attempted for o, c in zip(outcomes, calls)),
            "core-s"),
        "peak_rss_mb": (statistics.median(c["peak_rss_mb"] for c in calls),
                        "MB"),
        "setup_s": (statistics.median(setups), "s"),
    }
    reasons = {}
    for o in outcomes:
        for k, v in o.reasons.items():
            reasons[k] = reasons.get(k, 0) + v
    info = {
        "workload": workload, "seed": seed, "cores": cores,
        "input": {k: inp[k] for k in ("composition", "docs_sha256",
                                      "prepare_s")},
        "calls": [dict(c, committed=o.committed)
                  for c, o in zip(calls, outcomes)],
        "setups_s": setups,
        "failed_frac": failed / attempted,
        "failure_reasons": reasons,
        "steal_probe_s": probe,
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "info": info}
