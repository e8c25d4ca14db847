"""The traced run: per-layer figures, taken from outside the program.

Spans (name, start, end, parent) are recorded around the benchmark's own
calls into the program's public functions, kept in memory and written to
``<work>/traces/`` when the run ends.

Spark is lazy, so a pipeline layer is timed by materialising the plan up
to that layer as its own no-op-write job, labelled with
``sc.setJobDescription(<layer>)``; a layer's self time is its job minus
the jobs of the layers it builds on.  The two extraction branches (text
and media) each build on ``explode_spans``, so::

    explode   = t(explode_spans)
    text      = t(extract_text_spans)  - t(explode_spans)
    media     = t(extract_media_spans) - t(explode_spans)
    reassemble= t(extract_documents) - t(text) - t(media) + t(explode)
    run_extraction self = t(run_extraction) - t(extract_documents)

and the self times add up to the traced ``run_extraction`` call.  Task,
GC and shuffle figures come from the Spark event log of the traced
context.  Kernel figures come from a one-core sampler in the benchmark
process over a fixed, format-stratified sample of the workload's pages.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict

from . import harness, workloads

# every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    "session.get_spark.s": "s",
    "pipeline.explode_spans.self_s": "s",
    "pipeline.extract_text_spans.self_s": "s",
    "pipeline.extract_media_spans.self_s": "s",
    "pipeline.extract_media_spans.gc_s": "s",
    "pipeline.extract_media_spans.shuffle_write_mb": "MB",
    "pipeline.extract_media_spans.task_p50_s": "s",
    "pipeline.extract_media_spans.task_max_s": "s",
    "pipeline.extract_media_spans.slot_idle_frac": "ratio",
    "pipeline.reassemble.self_s": "s",
    "pipeline.reassemble.shuffle_write_mb": "MB",
    "checkpoint.run_extraction.self_s": "s",
    "checkpoint.run_extraction.output_files": "count",
    "kernels.decode.bmp_ms_per_page": "ms",
    "kernels.decode.png_ms_per_page": "ms",
    "kernels.decode.jpeg_ms_per_page": "ms",
    "kernels.image_ops.binarize.ms_per_page": "ms",
    "kernels.image_ops.segment_page.ms_per_page": "ms",
    "kernels.ocr.cls_memo_hit_ratio": "ratio",
    "kernels.ocr.mat_memo_hit_ratio": "ratio",
    "kernels.nn.classify.us_per_glyph": "us",
    "kernels.nn.classify_margin_ppm.us_per_glyph": "us",
    "kernels.html_strip.strip_html_batch.us_per_span": "us",
    "textops.quality_decisions_from.s": "s",
    "textops.verified_pairs_from.s": "s",
    "textops.verified_pairs_from.candidates": "count",
    "textops.verified_pairs_from.verified": "count",
    "textops.components_from.s": "s",
    "textops.sequence_pack_from.s": "s",
    "curation.materialize.s": "s",
    "trace.overhead_frac": "ratio",
    "scaling_eff": "ratio",
}

# mm_curate's stage times; mm_curate is not a BENCHMARK.json workload
# (see README), so only its own traced run reports these
MM_STAGES = {
    "mm_curation.stage_e.s": "s",
    "mm_curation.stage_d.s": "s",
    "mm_curation.stage_m.s": "s",
}

OCR_STAGE_OPS = ("MapInPandas", "PythonMapInArrow")
# timed repetitions of each batched kernel call; the median counts
KERNEL_REPS = 3


class Tracer:
    """Spans kept in memory; written out once, when the run ends."""

    def __init__(self):
        self.spans = []
        self._open = []

    def add(self, name: str, start: float, end: float, parent=None) -> None:
        if parent is None and self._open:
            parent = self._open[-1]
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent})

    def span(self, name: str, spark=None):
        return _Span(self, name, spark)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str, spark):
        self.tracer, self.name, self.spark = tracer, name, spark

    def __enter__(self):
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(self.name)
        self.parent = self.tracer._open[-1] if self.tracer._open else None
        self.tracer._open.append(self.name)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.tracer._open.pop()
        self.tracer.add(self.name, self.t0, t1, self.parent)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(None)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def read_event_log(eventlog_dir: str) -> dict:
    """{job description: {"tasks": [...], "stages": {id: info}}}."""
    desc_of_stage = {}
    stages = {}
    tasks = defaultdict(list)
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(glob.glob(os.path.join(eventlog_dir, "**", "events_*"),
                             recursive=True))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    props = ev.get("Properties") or {}
                    desc_of_stage[sid] = props.get("spark.job.description")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = " ".join(str(r.get("Scope", ""))
                                      for r in info.get("RDD Info", []))
                    stages[info["Stage ID"]] = {
                        "submitted": info.get("Submission Time"),
                        "completed": info.get("Completion Time"),
                        "ocr": any(op in scopes for op in OCR_STAGE_OPS),
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks[ev["Stage ID"]].append({
                        "dur_s": (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                        "shuffle_mb": sw.get("Shuffle Bytes Written", 0) / 1e6,
                    })
    layers = defaultdict(lambda: {"tasks": [], "stages": {}})
    for sid, desc in desc_of_stage.items():
        layers[desc]["tasks"] += tasks.get(sid, [])
        if sid in stages:
            layers[desc]["stages"][sid] = dict(stages[sid],
                                               tasks=tasks.get(sid, []))
    return dict(layers)


def _sum(layer: dict, key: str) -> float:
    return sum(t[key] for t in layer["tasks"]) if layer else 0.0


def straggler_figures(layer: dict, slots: int) -> dict:
    """Task p50 / max and the share of slot time left idle in the OCR
    stage of a layer's job (the stage running the mapInPandas)."""
    stages = list(layer["stages"].values()) if layer else []
    ocr = [s for s in stages if s["ocr"] and s["tasks"]] or sorted(
        (s for s in stages if s["tasks"]),
        key=lambda s: -sum(t["dur_s"] for t in s["tasks"]))[:1]
    if not ocr:
        return {}
    st = ocr[0]
    durs = [t["dur_s"] for t in st["tasks"]]
    wall = (st["completed"] - st["submitted"]) / 1e3
    return {
        "task_p50_s": statistics.median(durs),
        "task_max_s": max(durs),
        "slot_idle_frac": max(0.0, 1 - sum(durs) / (wall * slots)),
    }


# --------------------------------------------------------------------------
# kernel sampler
# --------------------------------------------------------------------------


class _CountingMemo(dict):
    """A matrix memo for segment_page that counts its probes and hits."""

    probes = hits = 0

    def __contains__(self, key):
        self.probes += 1
        found = dict.__contains__(self, key)
        self.hits += found
        return found


def _median_time(fn) -> float:
    out = []
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def sample_kernels(inp: dict, degrade: bool, tracer: Tracer) -> tuple:
    """Time the OCR kernel layers on one core over the input's fixed page
    sample.  Returns per-layer figures plus the per-format page counts
    actually sampled."""
    import numpy as np
    import pyarrow.dataset as ds

    from ocr_gang_spark.kernels.bmp import decode_media_blob
    from ocr_gang_spark.kernels.html_strip import strip_html_batch
    from ocr_gang_spark.kernels.image_ops import binarize, segment_page
    from ocr_gang_spark.kernels.nn import classify, classify_margin_ppm
    from ocr_gang_spark.pipeline import default_weights
    from ocr_gang_spark.synth import inject_scan_noise_rgb, is_degraded_ref

    from .inputs import sniff_format

    refs = inp["kernel_sample"]
    media = ds.dataset(os.path.join(inp["dir"], "media"), format="parquet")
    blobs = dict(zip(*media.to_table(
        filter=ds.field("media_ref").isin(refs)).to_pydict().values()))
    w = default_weights()
    decode_s = defaultdict(float)
    pages_by_fmt = defaultdict(int)
    bin_s = seg_s = 0.0
    memo = _CountingMemo()
    seen, cls_probes, cls_hits = set(), 0, 0
    mats = {}
    with tracer.span("kernels.sampler"):
        for ref in refs:
            blob = blobs[ref]
            fmt = sniff_format(blob)
            t0 = time.perf_counter()
            page = decode_media_blob(blob)
            t1 = time.perf_counter()
            decode_s[fmt] += t1 - t0
            pages_by_fmt[fmt] += 1
            if degrade and is_degraded_ref(ref):
                page = inject_scan_noise_rgb(ref, page)
            t1 = time.perf_counter()
            bw = binarize(page)
            t2 = time.perf_counter()
            lines = segment_page(bw, matrix_cache=memo)
            t3 = time.perf_counter()
            bin_s += t2 - t1
            seg_s += t3 - t2
            for line in lines:
                for m in line:
                    if m is None:
                        continue
                    key = m.tobytes()
                    cls_probes += 1
                    cls_hits += key in seen
                    seen.add(key)
                    mats.setdefault(key, m)
        stack = np.stack(list(mats.values()))
        t_cls = _median_time(lambda: classify(stack, w))
        t_mar = _median_time(lambda: classify_margin_ppm(stack, w))
        texts = [s["text"] for r in ds.dataset(
            os.path.join(inp["dir"], "docs"), format="parquet").to_table(
            columns=["spans"]).column("spans").to_pylist()
            for s in r if s["kind"] == "text"][:4000]
        t_html = _median_time(lambda: strip_html_batch(texts))
    n = len(refs)
    out = {
        "kernels.image_ops.binarize.ms_per_page": 1e3 * bin_s / n,
        "kernels.image_ops.segment_page.ms_per_page": 1e3 * seg_s / n,
        "kernels.ocr.cls_memo_hit_ratio": cls_hits / max(1, cls_probes),
        "kernels.ocr.mat_memo_hit_ratio": memo.hits / max(1, memo.probes),
        "kernels.nn.classify.us_per_glyph": 1e6 * t_cls / len(stack),
        "kernels.nn.classify_margin_ppm.us_per_glyph":
            1e6 * t_mar / len(stack),
        "kernels.html_strip.strip_html_batch.us_per_span":
            1e6 * t_html / max(1, len(texts)),
    }
    for fmt, secs in decode_s.items():
        out[f"kernels.decode.{fmt}_ms_per_page"] = 1e3 * secs / pages_by_fmt[fmt]
    return out, dict(pages_by_fmt)


# --------------------------------------------------------------------------
# layer flows
# --------------------------------------------------------------------------


def _pipeline_layers(spark, bc, inp, call, tracer, mm: bool) -> dict:
    from ocr_gang_spark import pipeline as P
    from ocr_gang_spark.checkpoint import run_extraction

    docs = spark.read.parquet(os.path.join(inp["dir"], "docs"))
    media = spark.read.parquet(os.path.join(inp["dir"], "media"))
    flags = {"with_margins": mm, "degrade_slice": mm}
    t = {}
    for name, fn in (
        ("pipeline.explode_spans", lambda: _noop(P.explode_spans(docs))),
        ("pipeline.extract_text_spans",
         lambda: _noop(P.extract_text_spans(P.explode_spans(docs)))),
        ("pipeline.extract_media_spans",
         lambda: _noop(P.extract_media_spans(P.explode_spans(docs), media,
                                             bc, **flags))),
        ("pipeline.extract_documents",
         lambda: _noop(P.extract_documents(docs, media, bc, **flags))),
    ):
        with tracer.span(name, spark):
            fn()
        t[name] = tracer.seconds(name)
    out_dir = call.path("extracted" if mm else "out")
    cp_dir = call.path("extract_cp" if mm else "cp")
    with tracer.span("checkpoint.run_extraction", spark):
        run_extraction(spark, docs, media, out_dir, cp_dir, weights_bc=bc,
                       **flags)
    t_run = tracer.seconds("checkpoint.run_extraction")
    e, x, m = (t["pipeline.explode_spans"], t["pipeline.extract_text_spans"],
               t["pipeline.extract_media_spans"])
    return {
        "pipeline.explode_spans.self_s": e,
        "pipeline.extract_text_spans.self_s": x - e,
        "pipeline.extract_media_spans.self_s": m - e,
        "pipeline.reassemble.self_s": t["pipeline.extract_documents"] - x - m + e,
        "checkpoint.run_extraction.self_s":
            t_run - t["pipeline.extract_documents"],
        "checkpoint.run_extraction.output_files": float(len(glob.glob(
            os.path.join(out_dir, "part_id=*", "*.parquet")))),
        "_job_s": t_run,
    }


def _mm_layers(spark, bc, inp, call, tracer) -> dict:
    from ocr_gang_spark.mm_curation import mm_decisions, run_mm_curation

    out = _pipeline_layers(spark, bc, inp, call, tracer, mm=True)
    extracted = spark.read.parquet(call.path("extracted")).select(
        "doc_id", "spans", "doc_min_margin_ppm")
    with tracer.span("mm_curation.stage_d", spark):
        mm_decisions(extracted).write.mode("overwrite").parquet(
            call.path("decisions"))
    # stage E and D are on disk, so the job call resumes into stage M
    with tracer.span("mm_curation.stage_m", spark):
        run_mm_curation(
            spark, spark.read.parquet(os.path.join(inp["dir"], "docs")),
            spark.read.parquet(os.path.join(inp["dir"], "media")),
            call.workdir, weights_bc=bc)
    out["mm_curation.stage_e.s"] = out["_job_s"]
    out["mm_curation.stage_d.s"] = tracer.seconds("mm_curation.stage_d")
    out["mm_curation.stage_m.s"] = tracer.seconds("mm_curation.stage_m")
    out["_job_s"] += out["mm_curation.stage_d.s"] + out["mm_curation.stage_m.s"]
    return out


def _candidate_rows(df):
    """LSH candidate pairs the verification in ``df`` (verified_pairs_from)
    scored, read from Spark's SQL metrics: the output rows of the
    distinct aggregate over the union of in-bucket and star candidates.
    None if the executed plan has no such shape."""
    todo = [(df._jdf.queryExecution().executedPlan(), ())]
    while todo:
        node, path = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append((node.executedPlan(), path))
            continue
        if name.endswith("QueryStageExec"):
            todo.append((node.plan(), path))
            continue
        if name == "UnionExec":
            aggs = [n for n in path
                    if n.getClass().getSimpleName() == "HashAggregateExec"]
            if aggs:
                return int(aggs[0].metrics().get("numOutputRows").get()
                           .value())
        kids = node.children()
        todo += [(kids.apply(i), path + (node,)) for i in range(kids.size())]
    return None


def _curate_layers(spark, inp, call, tracer) -> dict:
    from pyspark.sql import functions as F

    from ocr_gang_spark import textops as T
    from ocr_gang_spark.curation import curation_decisions, run_curation

    docs = spark.read.parquet(os.path.join(inp["dir"], "docs"))
    t = {}

    def timed(name, fn):
        with tracer.span(name, spark):
            r = fn()
        t[name] = tracer.seconds(name)
        return r

    def q_docs():
        q = T.quality_decisions_from(docs)
        return docs.join(q.where(F.col("keep")).select("doc_id"), "doc_id",
                         "left_semi")

    # the first job of a context pays one-off start-up costs, so the
    # scan baseline runs twice and the second one counts
    _noop(docs)
    timed("io.scan_docs", lambda: _noop(docs))
    timed("textops.quality_decisions_from",
          lambda: _noop(T.quality_decisions_from(docs)))
    timed("io.quality_survivors", lambda: _noop(q_docs()))
    verified = T.verified_pairs_from(q_docs())
    pairs = timed("textops.verified_pairs_from", verified.collect)
    cand = _candidate_rows(verified)
    comps = timed("textops.components_from",
                  lambda: T.components_from(T.verified_pairs_from(q_docs())))
    timed("textops.components_from.write", lambda: _noop(comps))
    drops = comps.where(F.col("decision") == "drop").select("doc_id")
    kept = q_docs().join(drops, "doc_id", "left_anti")
    timed("io.kept_docs", lambda: _noop(kept))
    timed("textops.sequence_pack_from",
          lambda: _noop(T.sequence_pack_from(kept)))
    cp = call.path("cp")
    timed("curation.decisions", lambda: curation_decisions(docs).write.mode(
        "overwrite").parquet(cp + "_decisions"))
    # decisions are on disk, so the job call does phase 2 only
    timed("curation.materialize", lambda: run_curation(
        spark, docs, call.path("out"), cp))
    return {
        "textops.quality_decisions_from.s":
            t["textops.quality_decisions_from"] - t["io.scan_docs"],
        "textops.verified_pairs_from.s":
            t["textops.verified_pairs_from"] - t["io.quality_survivors"],
        "textops.verified_pairs_from.candidates": float(cand or 0),
        "textops.verified_pairs_from.verified": float(len(pairs)),
        "textops.components_from.s":
            t["textops.components_from"] + t["textops.components_from.write"]
            - t["textops.verified_pairs_from"],
        "textops.sequence_pack_from.s":
            t["textops.sequence_pack_from"] - t["io.kept_docs"],
        "curation.materialize.s": t["curation.materialize"],
        "_job_s": t["curation.decisions"] + t["curation.materialize"],
        "_candidates": cand,
    }


# --------------------------------------------------------------------------
# the traced run
# --------------------------------------------------------------------------


# metric-name prefixes each workload exercises; the rest read 0
EXERCISED = {
    "extract_mixed": ("session.", "pipeline.", "checkpoint.", "kernels.",
                      "trace.", "scaling_eff"),
    "mm_curate": ("session.", "pipeline.", "checkpoint.", "kernels.",
                  "mm_curation.", "trace."),
    "curate_flat": ("session.", "textops.", "curation."),
}


def traced_run(workload: str, seed: int, cores: int, work: str) -> dict:
    """For the OCR workloads: an untraced call that warms the JVM, the
    traced context, an untraced reference call, and (extract_mixed) a
    local[1] call.  The first call of a fresh JVM (the one the
    end-to-end runs time) is about twice as slow as later ones, so the
    traced call is compared with the untraced call after it, which is a
    little warmer still (the overhead reads high, never low)."""
    style, _ = harness.SETUP[workload]
    inp = harness.prepare_input(workload, seed, work, cores)
    oracle = workloads.Oracle(workload, inp)

    outcomes = []

    def untraced(tag, cpus=cores):
        sample, outcome = harness.checked_call(
            workload, harness.Session(style), cpus, inp, oracle, work, tag)
        outcomes.append(outcome)
        return outcome.committed / sample["wall_s"], sample["wall_s"]

    ocr = workload != "curate_flat"
    if ocr:
        _, warmup_s = untraced("warmup")
    tracer = Tracer()
    eventlog = os.path.join(work, "eventlog", f"{workload}-s{seed}")
    shutil.rmtree(eventlog, ignore_errors=True)
    spark, bc, _, get_spark_s = harness.Session(style, tracer).open(
        cores, eventlog)
    call = harness.new_call(work, f"{workload}-traced")
    try:
        if workload == "extract_mixed":
            layers = _pipeline_layers(spark, bc, inp, call, tracer, mm=False)
        elif workload == "mm_curate":
            layers = _mm_layers(spark, bc, inp, call, tracer)
        else:
            layers = _curate_layers(spark, inp, call, tracer)
    finally:
        spark.stop()
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    outcomes.append(oracle.check(call))
    shutil.rmtree(call.workdir, ignore_errors=True)
    traced_rate = outcomes[-1].committed / layers["_job_s"]

    reported = dict(PER_LAYER, **(MM_STAGES if workload == "mm_curate"
                                  else {}))
    metrics = dict.fromkeys(reported, 0.0)
    metrics["session.get_spark.s"] = get_spark_s
    absent, info = {}, {"traced_docs_per_s": traced_rate,
                        "traced_job_s": layers["_job_s"]}
    if ocr:
        plain_rate, plain_s = untraced("untraced")
        metrics["trace.overhead_frac"] = plain_rate / traced_rate - 1
        info.update(untraced_docs_per_s=plain_rate, untraced_job_s=plain_s,
                    warmup_job_s=warmup_s)
    else:
        absent["trace.overhead_frac"] = (
            "no untraced reference call: one more curation call would take "
            "the run past 180 s; compare traced_docs_per_s with the "
            "untraced runs' docs_per_s")
    if workload == "extract_mixed":
        # the N side of the N-vs-nproc*N scaling pair, over the same input
        single_rate, _ = untraced("local1", cpus=1)
        metrics["scaling_eff"] = plain_rate / (cores * single_rate)
        info["local1_docs_per_s"] = single_rate

    if workload != "curate_flat":
        ev = read_event_log(eventlog)
        media = ev.get("pipeline.extract_media_spans")
        explode = ev.get("pipeline.explode_spans")
        metrics["pipeline.extract_media_spans.gc_s"] = (
            _sum(media, "gc_s") - _sum(explode, "gc_s"))
        metrics["pipeline.extract_media_spans.shuffle_write_mb"] = (
            _sum(media, "shuffle_mb") - _sum(explode, "shuffle_mb"))
        for k, v in straggler_figures(media, cores).items():
            metrics[f"pipeline.extract_media_spans.{k}"] = v
        metrics["pipeline.reassemble.shuffle_write_mb"] = (
            _sum(ev.get("pipeline.extract_documents"), "shuffle_mb")
            - _sum(ev.get("pipeline.extract_text_spans"), "shuffle_mb")
            - _sum(media, "shuffle_mb") + _sum(explode, "shuffle_mb"))
        kern, info["kernel_sample_pages"] = sample_kernels(
            inp, workload == "mm_curate", tracer)
        metrics.update(kern)
    metrics.update({k: v for k, v in layers.items() if k in reported})
    if workload == "curate_flat" and layers["_candidates"] is None:
        absent["textops.verified_pairs_from.candidates"] = (
            "no distinct-over-union candidate aggregate in the executed plan")
    tracer.dump(os.path.join(work, "traces", f"{workload}-s{seed}.json"))
    info.update({
        "workload": workload, "seed": seed, "cores": cores, "trace": True,
        "self_s_sum": sum(v for k, v in layers.items()
                          if k.endswith(".self_s")),
        "not_exercised": sorted(k for k in reported
                                if not k.startswith(EXERCISED[workload])),
        "absent": absent,
        "failure_reasons": [o.reasons for o in outcomes],
    })
    return {
        "attempted": sum(o.attempted for o in outcomes),
        "failed": sum(o.failed for o in outcomes),
        "metrics": {k: (v, reported[k]) for k, v in metrics.items()},
        "info": info,
    }
