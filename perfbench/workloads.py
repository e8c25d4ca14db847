"""The three job entry points, their inputs and their output checks.

Each workload calls one real job function on parquet inputs the
benchmark generated, in a fresh Spark context, and checks what the job
committed against the oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from . import check


@dataclass
class Call:
    """One job call's output locations."""

    workdir: str

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)


def _read(spark, inp: dict, name: str):
    return spark.read.parquet(os.path.join(inp["dir"], name))


def run_extract_mixed(spark, weights_bc, inp: dict, call: Call):
    from ocr_gang_spark.checkpoint import run_extraction

    return run_extraction(
        spark, _read(spark, inp, "docs"), _read(spark, inp, "media"),
        call.path("out"), call.path("cp"), weights_bc=weights_bc)


def run_mm_curate(spark, weights_bc, inp: dict, call: Call):
    from ocr_gang_spark.mm_curation import run_mm_curation

    return run_mm_curation(
        spark, _read(spark, inp, "docs"), _read(spark, inp, "media"),
        call.workdir, weights_bc=weights_bc)


def run_curate_flat(spark, weights_bc, inp: dict, call: Call):
    from ocr_gang_spark.curation import run_curation

    return run_curation(spark, _read(spark, inp, "docs"), call.path("out"),
                        call.path("cp"))


RUNNERS = {
    "extract_mixed": run_extract_mixed,
    "mm_curate": run_mm_curate,
    "curate_flat": run_curate_flat,
}


class Oracle:
    """Loads a workload's oracle once per run and checks job calls."""

    def __init__(self, workload: str, inp: dict):
        import pyarrow.parquet as pq

        self.workload = workload
        d = inp["dir"]
        if workload == "curate_flat":
            import json

            with open(os.path.join(d, "oracle.json")) as f:
                self.flat = json.load(f)
            self.texts = {r["doc_id"]: r["text"] for r in check.read_rows(
                os.path.join(d, "docs"), ["doc_id", "text"])}
            return
        rows = pq.read_table(os.path.join(d, "oracle.parquet")).to_pylist()
        if workload == "mm_curate":
            self.mm = {r["doc_id"]: (r["rendered"], r["degraded"])
                       for r in rows}
        else:
            self.spans = {r["doc_id"]: r["spans"] for r in rows}

    def check(self, call: Call) -> check.Outcome:
        if self.workload == "extract_mixed":
            return check.check_extract(
                self.spans,
                check.read_rows(call.path("out"),
                                ["doc_id", "spans", "part_id"]),
                check.read_ledger(call.path("cp")))
        if self.workload == "mm_curate":
            return check.check_mm(
                self.mm,
                check.read_rows(call.path("shards"),
                                ["doc_id", "rendered", "part_id"]),
                check.read_ledger(call.path("cp")))
        stages = {r["doc_id"]: r["stage"] for r in check.read_rows(
            call.path("cp") + "_decisions", ["doc_id", "stage"])}
        return check.check_flat(
            self.texts, self.flat, stages,
            check.read_rows(call.path("out"), ["doc_id", "text", "part_id"]),
            check.read_ledger(call.path("cp")))
