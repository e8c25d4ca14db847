"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import itertools
import random
from collections import Counter

import pytest

from perfbench import check, inputs, trace


def scaled(spec, n_docs, hot):
    """The same workload shape at another size."""
    from dataclasses import replace

    return replace(spec, n_docs=n_docs, hot_sizes=inputs._hot_sizes(hot)
                   if hot else ())


def _committed(oracle_spans: dict, n_parts: int = 4):
    rows = [{"doc_id": d, "spans": copy.deepcopy(s), "part_id": i % n_parts}
            for i, (d, s) in enumerate(sorted(oracle_spans.items()))]
    return rows, dict(Counter(r["part_id"] for r in rows))


@pytest.fixture(scope="module")
def extract_oracle():
    spec = scaled(inputs.SPECS["extract_mixed"], 24, hot=0)
    docs = inputs.select_documents(spec, seed=3)
    refs = [s["media_ref"] for _d, sp in docs for s in sp
            if s["kind"] == "media"]
    rendered = inputs.render_blobs(refs, processes=1)
    return {d: inputs.expected_spans(sp, rendered) for d, sp in docs}


def _flip(text: str) -> str:
    return ("x" if text[0] != "x" else "y") + text[1:]


def _mutations(rows, mutate):
    """One flipped character, one dropped and one duplicated document."""
    flipped = copy.deepcopy(rows)
    mutate(flipped[1])
    dropped = rows[:1] + rows[2:]
    duplicated = rows + [copy.deepcopy(rows[2])]
    return {"flip": flipped, "drop": dropped, "duplicate": duplicated}


def test_extract_check_counts_each_mutation_once(extract_oracle):
    rows, ledger = _committed(extract_oracle)
    assert check.check_extract(extract_oracle, rows, ledger).failed == 0

    def flip_span(row):
        span = next(s for s in row["spans"] if s["text"])
        span["text"] = _flip(span["text"])

    for name, mutated in _mutations(rows, flip_span).items():
        out = check.check_extract(extract_oracle, mutated, ledger)
        assert out.failed == 1, (name, out)


def test_extract_check_flags_error_spans(extract_oracle):
    rows, ledger = _committed(extract_oracle)
    rows[0]["spans"][0]["kind"] = "error"
    out = check.check_extract(extract_oracle, rows, ledger)
    assert out.failed == 1 and out.reasons == {"error_span": 1}


def test_mm_check_counts_each_mutation_once():
    oracle = {f"doc-{i:08d}": (f"text {i}\n<img:m-{i}>\nABC", i % 5 == 0)
              for i in range(1, 12)}
    rows = [{"doc_id": d, "rendered": r, "part_id": i % 3}
            for i, (d, (r, deg)) in enumerate(sorted(oracle.items()))
            if not deg]
    ledger = dict(Counter(r["part_id"] for r in rows))
    assert check.check_mm(oracle, rows, ledger).failed == 0

    def flip(row):
        row["rendered"] = _flip(row["rendered"])

    for name, mutated in _mutations(rows, flip).items():
        out = check.check_mm(oracle, mutated, ledger)
        assert out.failed == 1, (name, out)
    # a degraded document that got through the gate is a failure
    leaked = rows + [{"doc_id": "doc-00000005", "rendered": "wrong",
                      "part_id": 0}]
    out = check.check_mm(oracle, leaked, dict(Counter(
        r["part_id"] for r in leaked)))
    assert out.failed == 1
    assert out.reasons == {"degraded_accepted_wrong_text": 1}


def test_flat_check_counts_each_mutation_once():
    texts = {i: f"doc {i} the words here" for i in range(10)}
    oracle = {"quality_keep_ids": [i for i in texts if i != 7],
              "edges": [[2, 3]]}
    stages = {i: "kept" for i in texts}
    stages[7], stages[3] = "quality", "dedup"
    rows = [{"doc_id": i, "text": texts[i], "part_id": i % 4}
            for i in texts if stages[i] == "kept"]
    ledger = dict(Counter(r["part_id"] for r in rows))
    assert check.check_flat(texts, oracle, stages, rows, ledger).failed == 0

    def flip(row):
        row["text"] = _flip(row["text"])

    for name, mutated in _mutations(rows, flip).items():
        out = check.check_flat(texts, oracle, stages, mutated, ledger)
        assert out.failed == 1, (name, out)
    # a near-dup edge with neither end dropped is one failure
    both_kept = {**stages, 3: "kept"}
    rows3 = rows + [{"doc_id": 3, "text": texts[3], "part_id": 3}]
    out = check.check_flat(texts, oracle, both_kept, rows3,
                           dict(Counter(r["part_id"] for r in rows3)))
    assert out.failed == 1 and out.reasons == {"near_dup_kept": 1}


def test_near_dup_edges_match_brute_force():
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    docs = {}
    for i in range(120):
        if i % 6 == 5:
            words = docs[i - 1].split(" ")
            words[rng.randrange(len(words))] = "zz"
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(10, 30))]
        docs[i] = " ".join(words)
    sh = {d: check.shingles(t) for d, t in docs.items()}
    brute = sorted(
        (a, b) for a, b in itertools.combinations(sorted(docs), 2)
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.8)
    assert brute
    assert check.near_dup_edges(docs, 0.8) == brute


@pytest.mark.parametrize("workload", ["extract_mixed", "mm_curate"])
def test_two_seeds_give_identical_composition(workload):
    spec = inputs.SPECS[workload]
    comps = [inputs.composition(inputs.select_documents(spec, s),
                                spec.degraded) for s in (11, 12)]
    assert comps[0] == comps[1]
    assert comps[0]["docs"] == spec.n_docs
    assert comps[0]["hot_docs"] == len(spec.hot_sizes)


@pytest.fixture(scope="module")
def small_inputs(tmp_path_factory):
    spec = scaled(inputs.SPECS["extract_mixed"], 30, hot=1)
    out = []
    for i in range(2):
        work = str(tmp_path_factory.mktemp(f"work{i}"))
        out.append(inputs.prepare(spec, seed=4, work_dir=work, processes=1))
    return out


def test_same_seed_gives_same_manifest(small_inputs):
    a, b = ({k: v for k, v in m.items() if k != "dir"} for m in small_inputs)
    assert a == b
    assert a["composition"]["hot_docs"] == 1


def test_kernel_sampler_counts_match_its_sample(small_inputs):
    inp = small_inputs[0]
    _metrics, pages = trace.sample_kernels(inp, False, trace.Tracer())
    given = Counter(inputs.ref_format(r) for r in inp["kernel_sample"])
    assert pages == dict(given)
    assert sum(pages.values()) == len(inp["kernel_sample"])


def test_benchmark_json_names_what_the_runs_print():
    import json
    import os

    from perfbench import harness

    path = os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(trace.PER_LAYER)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        trace.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(harness.SETUP)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "docs_per_s", "core_s_per_kdoc", "peak_rss_mb", "setup_s"}
