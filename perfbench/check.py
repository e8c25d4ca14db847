"""Exact, untimed output checks; each counts failed documents.

Every check compares committed rows against an oracle known by
construction (the atlas text a page was rendered from, ``strip_html`` of
a text span, DuckDB's run of the quality rules, exact shingle Jaccard).
None of them hashes blob bytes: synthetic JPEG bytes differ from host to
host, the decoded text does not.

A part's ledger row (``n_docs``) must equal the rows committed in that
part.  A check reports ``failed = max(documents failing the row checks,
documents the ledger miscounts)``, so one fault is one failure whichever
side sees it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter, defaultdict
from dataclasses import dataclass, field

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


@dataclass
class Outcome:
    attempted: int
    failed: int
    committed: int
    reasons: dict = field(default_factory=dict)


def read_rows(path: str, columns: list) -> list:
    """Rows of a (possibly part_id-partitioned) parquet directory."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns).to_pylist()


def read_ledger(path: str) -> dict:
    """{part_id: n_docs} from a done-part ledger directory."""
    ledger = Counter()
    for r in read_rows(path, ["part_id", "n_docs", "status"]):
        if r["status"] == "done":
            ledger[r["part_id"]] += r["n_docs"]
    return dict(ledger)


def _ledger_miscount(rows: list, ledger: dict) -> int:
    committed = Counter(r["part_id"] for r in rows)
    return sum(abs(ledger.get(p, 0) - committed.get(p, 0))
               for p in set(ledger) | set(committed))


def _finish(attempted: int, failed_docs: dict, rows: list, ledger: dict,
            committed: int) -> Outcome:
    reasons = Counter(failed_docs.values())
    miscount = _ledger_miscount(rows, ledger)
    if miscount:
        reasons["ledger_miscount"] = miscount
    return Outcome(attempted, max(len(failed_docs), miscount), committed,
                   dict(reasons))


def _by_doc(rows: list) -> dict:
    out = defaultdict(list)
    for r in rows:
        out[r["doc_id"]].append(r)
    return out


def check_extract(oracle: dict, rows: list, ledger: dict) -> Outcome:
    """``oracle``: {doc_id: expected spans}; ``rows``: committed
    (doc_id, spans, part_id).  A document passes iff it is committed
    exactly once, with no error span, and its span sequence equals the
    oracle's."""
    failed = {}
    got = _by_doc(rows)
    for doc_id, expected in oracle.items():
        mine = got.get(doc_id, [])
        if not mine:
            failed[doc_id] = "missing"
        elif len(mine) > 1:
            failed[doc_id] = "duplicate"
        else:
            spans = [{k: s[k] for k in SPAN_FIELDS} for s in mine[0]["spans"]]
            if any(s["kind"] == "error" for s in spans):
                failed[doc_id] = "error_span"
            elif spans != expected:
                failed[doc_id] = "span_mismatch"
    for doc_id in got.keys() - oracle.keys():
        failed[doc_id] = "foreign"
    return _finish(len(oracle), failed, rows, ledger, len(got))


def check_mm(oracle: dict, rows: list, ledger: dict) -> Outcome:
    """``oracle``: {doc_id: (rendered text, degraded)}; ``rows``: shard
    (doc_id, rendered, part_id).  A clean document passes iff it is
    shipped exactly once with the oracle render; a degraded one passes
    only if the confidence gate kept it out of the shards."""
    failed = {}
    got = _by_doc(rows)
    for doc_id, (rendered, degraded) in oracle.items():
        mine = got.get(doc_id, [])
        if degraded:
            if mine:
                failed[doc_id] = (
                    "degraded_accepted_right_text"
                    if len(mine) == 1 and mine[0]["rendered"] == rendered
                    else "degraded_accepted_wrong_text")
        elif not mine:
            failed[doc_id] = "missing"
        elif len(mine) > 1:
            failed[doc_id] = "duplicate"
        elif mine[0]["rendered"] != rendered:
            failed[doc_id] = "render_mismatch"
    for doc_id in got.keys() - oracle.keys():
        failed[doc_id] = "foreign"
    return _finish(len(oracle), failed, rows, ledger, len(got))


def check_flat(texts: dict, oracle: dict, stages: dict, rows: list,
               ledger: dict) -> Outcome:
    """``texts``: {doc_id: input text}; ``oracle``: flat_oracle();
    ``stages``: program decisions {doc_id: 'kept'|'quality'|'dedup'};
    ``rows``: committed (doc_id, text, part_id)."""
    failed = {}
    q_keep = set(oracle["quality_keep_ids"])
    partners = defaultdict(set)
    for a, b in oracle["edges"]:
        partners[a].add(b)
        partners[b].add(a)
    got = _by_doc(rows)
    for doc_id, text in texts.items():
        stage = stages.get(doc_id)
        mine = got.get(doc_id, [])
        if stage is None:
            failed[doc_id] = "no_decision"
        elif (stage == "quality") == (doc_id in q_keep):
            failed[doc_id] = "quality_mismatch"
        elif stage == "dedup" and not partners[doc_id]:
            failed[doc_id] = "dedup_without_partner"
        elif stage == "kept":
            if len(mine) != 1:
                failed[doc_id] = "missing" if not mine else "duplicate"
            elif mine[0]["text"] != text:
                failed[doc_id] = "text_mismatch"
        elif mine:
            failed[doc_id] = "dropped_but_committed"
    dropped = {d for d, s in stages.items() if s == "dedup"}
    for a, b in oracle["edges"]:
        if a not in dropped and b not in dropped:
            failed.setdefault(max(a, b), "near_dup_kept")
    for doc_id in got.keys() - texts.keys():
        failed[doc_id] = "foreign"
    return _finish(len(texts), failed, rows, ledger, len(got))


# --------------------------------------------------------------------------
# curate_flat oracle
# --------------------------------------------------------------------------


def shingles(text: str) -> set:
    """Distinct word 3-shingles of a space-split text (textops'
    ``_shingles_of`` over ``split(text, ' ')``)."""
    t = text.split(" ")
    return {f"{t[i]} {t[i + 1]} {t[i + 2]}" for i in range(len(t) - 2)}


def near_dup_edges(docs: dict, threshold: float) -> list:
    """Every pair (a < b) with exact shingle Jaccard >= threshold, found
    with prefix filtering (exact: a pair at or above the threshold must
    share a token in both sets' rarest-first prefixes)."""
    sets = {d: shingles(t) for d, t in docs.items()}
    freq = Counter(s for ss in sets.values() for s in ss)
    index = defaultdict(list)
    edges = set()
    for d in sorted(sets):
        ss = sorted(sets[d], key=lambda s: (freq[s], s))
        if not ss:
            continue
        # overlap the pair needs, rounded down a hair so float error
        # can only lengthen the prefix (safe), never shorten it
        need = math.ceil(threshold * len(ss) - 1e-9)
        prefix = ss[: len(ss) - need + 1]
        cands = {c for tok in prefix for c in index[tok]}
        for c in cands:
            inter = len(sets[c] & sets[d])
            if inter / (len(sets[c]) + len(sets[d]) - inter) >= threshold:
                edges.add((min(c, d), max(c, d)))
        for tok in prefix:
            index[tok].append(d)
    return sorted(edges)


def flat_oracle(docs_dir: str) -> dict:
    """Quality decisions from the registry's DuckDB oracle and the exact
    near-dup edges among quality-passing documents."""
    import duckdb
    import pyarrow.dataset as ds

    from ocr_gang_spark.textops import DEDUP_JACCARD_T, _qf_duck

    table = ds.dataset(docs_dir, format="parquet").to_table(
        columns=["doc_id", "text"])
    con = duckdb.connect()
    try:
        con.register("documents", table)
        keep = {d for d, k in con.execute(
            f"SELECT doc_id, keep FROM ({_qf_duck()})").fetchall() if k}
    finally:
        con.close()
    texts = dict(zip(table.column("doc_id").to_pylist(),
                     table.column("text").to_pylist()))
    edges = near_dup_edges({d: texts[d] for d in keep}, DEDUP_JACCARD_T)
    digest = hashlib.sha256(
        json.dumps(sorted(texts.items())).encode()).hexdigest()
    return {"quality_keep_ids": sorted(keep),
            "edges": [list(e) for e in edges], "docs_sha256": digest}
