"""Seeded benchmark inputs, made with the program's own generators.

The benchmark takes the seed; the program only ever sees parquet.  Each
workload draws documents from ``synth.synth_doc_spans`` (or, for
``curate_flat``, ``synth.synth_flat_documents``) and renders blobs with
``synth.blob_for_ref``, but *chooses* which candidate documents to keep
so that every seed yields the same composition: document count, hot
documents and their sizes, pages per format and degraded documents.
Without that, two seeds of the same size differ by ~25% in docs/s just
from how many JPEG pages and hot documents they happen to draw.

Generated inputs are cached under the work directory, keyed on workload,
seed and a hash of the generator sources.  Generation is never timed.
"""

from __future__ import annotations

import gc
import hashlib
import json
import math
import multiprocessing
import os
import shutil
from dataclasses import dataclass, field

FORMATS = ("bmp", "png", "jpeg")
# the codec shares synth.blob_for_ref draws from sha256("fmt:" + ref)
FORMAT_SHARE = {"bmp": 11 / 16, "png": 4 / 16, "jpeg": 1 / 16}
# per remaining document slot, the most pages of each format (and in
# total) a selection may still owe; keeps the last slots fillable by
# common one- or two-page documents
_SLOT_CAP = {"bmp": 2.0, "png": 1.0, "jpeg": 0.25}
_SLOT_CAP_TOTAL = 2.0
_MAX_CANDIDATES_PER_DOC = 200

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_GENERATOR_SOURCES = (
    "ocr_gang_spark/synth.py",
    "ocr_gang_spark/atlas.py",
    "ocr_gang_spark/kernels/bmp.py",
    "ocr_gang_spark/kernels/png.py",
    "ocr_gang_spark/kernels/jpeg.py",
    "ocr_gang_spark/kernels/html_strip.py",
    "ocr_gang_spark/kernels/image_ops.py",
    "ocr_gang_spark/kernels/nn.py",
    "ocr_gang_spark/textops.py",
    "perfbench/inputs.py",
    # the cached oracles come from the checks' own oracle code
    "perfbench/check.py",
)
# media-heavy document sizes span synth_doc_spans' heavy_spans default
HOT_PAGES = (50, 200)
# parquet files per generated table, and cached inputs kept per work dir
INPUT_FILES = 8
KEEP_INPUTS = 6


@dataclass(frozen=True)
class Spec:
    """Composition of one workload's input."""

    name: str
    n_docs: int
    # media-heavy documents: one per entry, with exactly that many pages
    hot_sizes: tuple = ()
    # split documents into synth's degraded slice (the candidate ids
    # synth.is_degraded_ref marks) and the clean rest, each with quotas
    degraded: bool = False
    # kwargs for synth_doc_spans on ordinary documents
    doc_kwargs: dict = field(default_factory=dict)
    # ordinary documents must have this many text spans / pages
    text_range: tuple = (0, 1 << 30)
    media_range: tuple = (0, 1 << 30)
    # kernel sampler pages per format (format-stratified, fixed)
    kernel_sample: dict = field(default_factory=dict)


def _hot_sizes(n: int) -> tuple:
    lo, hi = HOT_PAGES
    return tuple(lo + round((hi - lo) * j / max(1, n - 1)) for j in range(n))


SPECS = {
    "extract_mixed": Spec(
        "extract_mixed", n_docs=2000, hot_sizes=_hot_sizes(20),
        doc_kwargs={"skew_frac": 0.0},
        kernel_sample={"bmp": 96, "png": 48, "jpeg": 24},
    ),
    "mm_curate": Spec(
        "mm_curate", n_docs=1000, degraded=True,
        doc_kwargs={"skew_frac": 0.0, "media_prob": 0.5, "max_spans": 3},
        text_range=(1, 2), media_range=(1, 2),
        kernel_sample={"bmp": 96, "png": 48, "jpeg": 24},
    ),
    "curate_flat": Spec("curate_flat", n_docs=2000),
}


def ref_format(ref: str) -> str:
    """The codec synth.blob_for_ref picks for a ref (a pure function of
    the ref); checked against the encoded bytes by :func:`sniff_format`."""
    d = hashlib.sha256(("fmt:" + ref).encode()).digest()[0]
    if d % 4 == 0:
        return "png"
    if d % 16 == 1:
        return "jpeg"
    return "bmp"


def sniff_format(blob: bytes) -> str:
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if blob[:2] == b"\xff\xd8":
        return "jpeg"
    if blob[:2] == b"BM" or blob[:1] == b"\x78":
        return "bmp"
    raise ValueError("unknown blob format")


def generator_hash() -> str:
    h = hashlib.sha256()
    for rel in _GENERATOR_SOURCES:
        with open(os.path.join(_REPO, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# selection
# --------------------------------------------------------------------------


class _Quota:
    """Documents still owed by one class, and their pages per format."""

    def __init__(self, n_docs: int, pages: dict, per_doc_range: tuple):
        self.docs = n_docs
        self.pages = dict(pages)
        self.lo, self.hi = per_doc_range

    def fits(self, v: dict) -> bool:
        if self.docs <= 0:
            return False
        rest = {f: self.pages[f] - v[f] for f in FORMATS}
        if min(rest.values()) < 0:
            return False
        slots = self.docs - 1
        if slots == 0:
            return not any(rest.values())
        total = sum(rest.values())
        return (self.lo * slots <= total
                <= min(self.hi, _SLOT_CAP_TOTAL) * slots) and all(
            rest[f] <= math.ceil(_SLOT_CAP[f] * slots) for f in FORMATS
        )

    def take(self, v: dict) -> None:
        self.docs -= 1
        for f in FORMATS:
            self.pages[f] -= v[f]


def _page_vector(spans) -> dict:
    v = dict.fromkeys(FORMATS, 0)
    for s in spans:
        if s["kind"] == "media":
            v[ref_format(s["media_ref"])] += 1
    return v


def _expected_media(spec: Spec) -> float:
    """Expected pages of one ordinary document under the spec's shape
    filter, from synth_doc_spans' draw: n_spans ~ U{1..max_spans}, each
    span media with probability media_prob."""
    max_spans = spec.doc_kwargs.get("max_spans", 8)
    p = spec.doc_kwargs.get("media_prob", 0.4)
    num = den = 0.0
    for n in range(1, max_spans + 1):
        for m in range(n + 1):
            t = n - m
            if not (spec.media_range[0] <= m <= spec.media_range[1]
                    and spec.text_range[0] <= t <= spec.text_range[1]):
                continue
            pr = math.comb(n, m) * p ** m * (1 - p) ** t / max_spans
            num += pr * m
            den += pr
    return num / den


def _targets(n_docs: int, per_doc: float, extra: dict | None = None) -> dict:
    """Pages per format a class of n_docs must hold in total."""
    extra = extra or dict.fromkeys(FORMATS, 0)
    total = n_docs * per_doc + sum(extra.values())
    return {f: round(total * FORMAT_SHARE[f]) for f in FORMATS}


def select_documents(spec: Spec, seed: int) -> list:
    """Choose the workload's documents for a seed: [(doc_id, spans)]
    in doc_id order, with the spec's composition exactly."""
    from ocr_gang_spark.synth import OCR_NOISE_EVERY, synth_doc_spans

    chosen = []
    n_hot = len(spec.hot_sizes)
    stride = max(1, spec.n_docs // max(1, n_hot))
    hot_ids = {j * stride: size for j, size in enumerate(spec.hot_sizes)}
    hot_pages = dict.fromkeys(FORMATS, 0)
    for k, size in hot_ids.items():
        doc_id = f"doc-{k:08d}"
        spans = synth_doc_spans(seed, doc_id, skew_frac=1.0,
                                heavy_spans=(size, size))
        for f, c in _page_vector(spans).items():
            hot_pages[f] += c
        chosen.append((doc_id, spans))

    n_plain = spec.n_docs - n_hot
    per_doc = _expected_media(spec)
    if spec.degraded:
        n_deg = n_plain // OCR_NOISE_EVERY
        quotas = {
            "degraded": _Quota(n_deg, _targets(n_deg, per_doc),
                               spec.media_range),
            "clean": _Quota(n_plain - n_deg,
                            _targets(n_plain - n_deg, per_doc),
                            spec.media_range),
        }
    else:
        whole = _targets(n_plain, per_doc, hot_pages)
        quotas = {"plain": _Quota(
            n_plain, {f: whole[f] - hot_pages[f] for f in FORMATS},
            spec.media_range)}
        if min(quotas["plain"].pages.values()) < 0:
            raise ValueError("hot documents exceed the page targets")

    limit = _MAX_CANDIDATES_PER_DOC * spec.n_docs
    k = -1
    while any(q.docs for q in quotas.values()):
        k += 1
        if k > limit:
            raise RuntimeError(
                f"{spec.name}: no exact composition within {limit} candidates")
        if k in hot_ids:
            continue
        if spec.degraded:
            # synth.is_degraded_ref: the doc number's residue
            q = quotas["degraded" if k % OCR_NOISE_EVERY == 0 else "clean"]
        else:
            q = quotas["plain"]
        if q.docs == 0:
            continue
        doc_id = f"doc-{k:08d}"
        spans = synth_doc_spans(seed, doc_id, **spec.doc_kwargs)
        n_media = sum(s["kind"] == "media" for s in spans)
        if not (spec.media_range[0] <= n_media <= spec.media_range[1]
                and spec.text_range[0] <= len(spans) - n_media
                <= spec.text_range[1]):
            continue
        v = _page_vector(spans)
        if q.fits(v):
            q.take(v)
            chosen.append((doc_id, spans))
    chosen.sort()
    return chosen


def composition(docs: list, degraded: bool) -> dict:
    """Counts that must be identical for every seed of a workload.  Text
    spans are not among them: they cost little next to a page."""
    from ocr_gang_spark.synth import is_degraded_ref

    c = {"docs": len(docs), "hot_docs": 0, "hot_pages": 0,
         "degraded_docs": 0, "degraded_pages": 0}
    c.update({f"pages_{f}": 0 for f in FORMATS})
    for _doc_id, spans in docs:
        refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
        for r in refs:
            c[f"pages_{ref_format(r)}"] += 1
        if len(refs) >= HOT_PAGES[0]:
            c["hot_docs"] += 1
            c["hot_pages"] += len(refs)
        if degraded and refs and is_degraded_ref(refs[0]):
            c["degraded_docs"] += 1
            c["degraded_pages"] += len(refs)
    return c


def kernel_sample(spec: Spec, docs: list) -> list:
    """Fixed, format-stratified page sample for the kernel sampler: the
    first ``spec.kernel_sample[fmt]`` refs of each format in ref order."""
    by_fmt = {f: [] for f in FORMATS}
    for _doc_id, spans in docs:
        for s in spans:
            if s["kind"] == "media":
                by_fmt[ref_format(s["media_ref"])].append(s["media_ref"])
    out = []
    for f in FORMATS:
        out += sorted(by_fmt[f])[: spec.kernel_sample.get(f, 0)]
    return out


# --------------------------------------------------------------------------
# rendering and writing
# --------------------------------------------------------------------------


def _render(ref: str):
    from ocr_gang_spark.atlas import page_for_ref
    from ocr_gang_spark.synth import blob_for_ref

    return ref, page_for_ref(ref)[0], blob_for_ref(ref)


def render_blobs(refs: list, processes: int) -> dict:
    """{ref: (expected OCR text, blob bytes)} via a spawn pool."""
    if processes <= 1 or len(refs) < 64:
        out = [_render(r) for r in refs]
    else:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(processes) as pool:
            out = pool.map(_render, refs, chunksize=32)
        # the pool's locks started multiprocessing's resource tracker, a
        # process that would otherwise end only after this one exits;
        # the locks are released first so the tracker has none to clean
        del pool
        gc.collect()
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    rendered = {}
    for ref, text, blob in out:
        if sniff_format(blob) != ref_format(ref):
            raise RuntimeError(f"{ref}: codec rule drifted from synth.py")
        rendered[ref] = (text, blob)
    return rendered


def expected_spans(spans, rendered) -> list:
    """The extraction oracle: text spans through strip_html, media spans
    carry the atlas text the page was rendered from."""
    from ocr_gang_spark.kernels.html_strip import strip_html

    out = []
    for s in spans:
        if s["kind"] == "media":
            text = rendered[s["media_ref"]][0]
        else:
            text = strip_html(s["text"])
        out.append({"kind": s["kind"], "text": text,
                    "media_ref": s["media_ref"], "offset": s["offset"]})
    return out


def render_interleaved(spans) -> str:
    """The rendered training text mm curation ships for extracted spans
    (pipeline.rendered_interleaved_expr, restated as the oracle)."""
    pieces = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == "media":
            pieces.append(f"<img:{s['media_ref']}>\n{s['text']}")
        elif s["kind"] == "text":
            pieces.append(s["text"])
    return "\n".join(pieces)


def _span_type():
    import pyarrow as pa

    return pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))


def _write_parts(table, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    step = max(1, -(-table.num_rows // INPUT_FILES))
    for i, start in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(start, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _docs_digest(docs) -> str:
    return hashlib.sha256(
        json.dumps(docs, sort_keys=True).encode()).hexdigest()


def _generate_spans_input(spec: Spec, seed: int, out: str,
                          processes: int) -> dict:
    import pyarrow as pa

    docs = select_documents(spec, seed)
    refs = [s["media_ref"] for _d, spans in docs for s in spans
            if s["kind"] == "media"]
    rendered = render_blobs(refs, processes)
    span_t = _span_type()
    _write_parts(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.string()),
        "spans": pa.array([spans for _, spans in docs], span_t),
    }), os.path.join(out, "docs"))
    _write_parts(pa.table({
        "media_ref": pa.array(refs, pa.string()),
        "bytes": pa.array([rendered[r][1] for r in refs], pa.binary()),
    }), os.path.join(out, "media"))
    exp = [expected_spans(spans, rendered) for _, spans in docs]
    oracle = {
        "doc_id": pa.array([d for d, _ in docs], pa.string()),
        "spans": pa.array(exp, span_t),
    }
    if spec.degraded:
        from ocr_gang_spark.synth import is_degraded_ref

        oracle["rendered"] = pa.array(
            [render_interleaved(e) for e in exp], pa.string())
        oracle["degraded"] = pa.array(
            [any(s["kind"] == "media" and is_degraded_ref(s["media_ref"])
                 for s in spans) for _, spans in docs], pa.bool_())
    import pyarrow.parquet as pq

    pq.write_table(pa.table(oracle), os.path.join(out, "oracle.parquet"))
    return {
        "composition": composition(docs, spec.degraded),
        "text_spans": sum(s["kind"] == "text" for _, sp in docs for s in sp),
        "docs_sha256": _docs_digest(docs),
        "kernel_sample": kernel_sample(spec, docs),
    }


def _generate_flat_input(spec: Spec, seed: int, out: str, spark) -> dict:
    from ocr_gang_spark.synth import synth_flat_documents

    from . import check

    path = os.path.join(out, "docs")
    synth_flat_documents(spark, spec.n_docs, seed=seed,
                         partitions=INPUT_FILES).write.parquet(path)
    oracle = check.flat_oracle(path)
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    return {
        # the quality cohorts and injected near-duplicates are fixed by
        # doc index in synth_flat_documents; the counts below are seeded
        "composition": {"docs": spec.n_docs},
        "quality_kept": len(oracle["quality_keep_ids"]),
        "near_dup_edges": len(oracle["edges"]),
        "docs_sha256": oracle["docs_sha256"],
        "kernel_sample": [],
    }


def prepare(spec: Spec, seed: int, work_dir: str, processes: int,
            session=None) -> dict:
    """Generate (or reuse) the input for (workload, seed); returns its
    manifest with ``dir`` set to the cached input directory.
    ``session()`` returns a SparkSession; only ``curate_flat`` needs one,
    to run ``synth_flat_documents``."""
    key = f"{spec.name}-n{spec.n_docs}-s{seed}-{generator_hash()}"
    root = os.path.join(work_dir, "inputs")
    final = os.path.join(root, key)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        os.utime(final)
        with open(manifest_path) as f:
            return dict(json.load(f), dir=final)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if spec.name == "curate_flat":
        body = _generate_flat_input(spec, seed, tmp, session())
    else:
        body = _generate_spans_input(spec, seed, tmp, processes)
    manifest = {"workload": spec.name, "seed": seed,
                "generator": generator_hash(), **body}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, final)
    _evict(root)
    return dict(manifest, dir=final)


def _evict(root: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(root, e)), e) for e in os.listdir(root)
        if not e.endswith(".tmp"))
    for _mtime, e in entries[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)
