"""Self-tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pandas as pd

from perfbench import checks, corpus, trace
from perfbench.workloads import Workload


def test_generator_is_deterministic_per_seed(tmp_path):
    a = corpus.generate(5, 60, 500, 40)
    b = corpus.generate(5, 60, 500, 40)
    c = corpus.generate(6, 60, 500, 40)
    assert a == b
    assert a != c
    corpus.write_text_dir(a, str(tmp_path / "a"))
    corpus.write_text_dir(b, str(tmp_path / "b"))
    for doc_id, _ in a.docs:
        name = f"{doc_id}.txt"
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert a.sizes() == {"docs": 60, "bytes": a.n_bytes, "tokens": a.n_tokens}


def test_generator_carries_every_tokenizer_edge_case():
    text = " ".join(t for _, t in corpus.generate(1, 200, 500, 80).docs)
    assert "<b>" in text and "</b>" in text
    assert "&amp;" in text and "&nbsp;" in text
    assert any(ch.isdigit() for ch in text)
    assert any(tok[:1].isupper() and tok[-1] in corpus.TRAILING_PUNCT for tok in text.split())


def _scores() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "word": ["b", "a", "c", "a"],
            "doc": ["1.txt", "2.txt", "1.txt", "1.txt"],
            "tfidf": [0.5, 0.25, 0.125, 0.0],
        }
    )


def test_output_check_rejects_one_changed_score_and_counts_it():
    want = _scores()
    wl = Workload(seed=0, work="")
    wl.check("build", checks.check_sorted_scores(want.copy(), want))
    assert wl.attempted_checks == 1 and wl.failed_checks == 0 and wl.problems == []

    got = want.copy()
    got.loc[2, "tfidf"] = 0.126  # one score off in the third decimal
    wl.check("build", checks.check_sorted_scores(got, want))
    assert wl.attempted_checks == 2 and wl.failed_checks == 1
    assert len(wl.problems) == 1 and "1 scores differ" in wl.problems[0]


def test_output_check_accepts_one_ulp_rounding_flip_only():
    want = _scores()
    got = want.copy()
    got.loc[1, "tfidf"] = 0.250001  # one unit in the sixth place
    assert checks.check_sorted_scores(got, want) == []
    got.loc[1, "tfidf"] = 0.250003
    assert checks.check_sorted_scores(got, want)


def test_output_check_rejects_rising_order():
    want = _scores()
    got = want.iloc[[1, 0, 2, 3]].reset_index(drop=True)
    assert any("non-increasing" in p for p in checks.check_sorted_scores(got, want))


def test_query_compare_rejects_one_changed_value():
    want = pd.DataFrame({"doc": ["1", "2"], "score": [0.5, 0.25]})
    assert checks.compare(want.iloc[::-1].reset_index(drop=True), want) == []
    got = want.copy()
    got.loc[0, "score"] = 0.500001
    assert checks.compare(got, want)


def test_span_self_time_is_duration_minus_children_cover():
    t = trace.Tracer(run_id="t")
    t.spans = [
        trace.Span("op.build", 0.0, 10.0, None, "t", 0),
        trace.Span("cli.main", 1.0, 4.0, 0, "t", 1),
        trace.Span("sources.x", 3.0, 6.0, 0, "t", 2),  # overlaps its sibling
        trace.Span("functions.y", 2.0, 3.0, 1, "t", 3),  # grandchild
    ]
    # children of the root cover [1, 6]: 5 s of its 10
    assert t.self_time(0) == 5.0
    assert t.self_time(1) == 2.0
    assert t.self_time(3) == 1.0
    layers = t.layer_times(0)
    assert layers["cli"] == {"self": 2.0, "main": 3.0}
    assert layers["functions"] == {"self": 1.0, "y": 1.0}


def test_tracer_nests_spans_by_call():
    t = trace.Tracer(run_id="r")
    with t.span("op.a") as a:
        with t.span("cli.main") as b:
            pass
    assert t.spans[b].parent == a and t.spans[a].parent is None
    assert t.spans[a].run_id == "r"
    assert t.self_time(a) <= t.spans[a].duration


def test_covered_merges_overlaps_and_clips():
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.covered([(0, 2), (1, 3)], 2, 10) == 1
    assert trace.covered([], 0, 1) == 0


def test_emitted_metrics_match_benchmark_json():
    import json
    import os

    from perfbench import workloads

    with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    layer = {
        "jobs": 1, "stages": 1, "tasks": 2, "scan_tasks": 1, "failed_tasks": 0,
        "executor_run_ms": 5, "input_bytes": 10, "output_bytes": 3,
        "shuffle_read_bytes": 1, "shuffle_write_bytes": 1, "memory_spill_bytes": 0,
        "disk_spill_bytes": 0, "gc_ms": 1, "layers": {"cli": {"self": 0.1, "main": 0.2}},
        "build_ms": 1.0, "sched_gap_ms": 1.0, "catalyst_ms": 1.0, "batches": [],
        "spans": 3, "store_files": 0, "store_bytes": 0, "index_root_files": 0,
    }
    wl = workloads.BuildTextDir(seed=0, work="")
    wl.input_bytes = 10
    ops = [workloads.StepRecord("build", 1.5, True, layer=layer)]
    setup = (1.0, 2.0)
    e2e = workloads.e2e_metrics(ops, 3.0, {"python": 1.0, "jvm": 2.0})
    per_layer = workloads.layer_metrics(wl, ops, setup, {}, 1e-6)
    for got, key in ((e2e, "end_to_end"), (per_layer, "per_layer")):
        assert list(got) == [m["name"] for m in spec[key]]
        assert [u for _, u in got.values()] == [m["unit"] for m in spec[key]]
    assert per_layer["sources.scan_amplification"][0] == 1.0
    assert abs(per_layer["trace.overhead_ms"][0] - 0.004) < 1e-12  # 4 spans at 1 us
    assert e2e["setup_s"][0] == 3.0 and e2e["peak_rss_mb"][0] == 3.0


def test_traced_call_cost_is_small_and_positive():
    cost = trace.call_cost_s(calls=2000, repeats=3)
    assert 0.0 <= cost < 1e-3
