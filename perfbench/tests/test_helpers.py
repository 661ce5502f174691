"""Self-tests of the benchmark's helpers (no Spark needed).

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, spec  # noqa: E402
from perfbench.measure import OpLog, Tracer, percentile, tail_percentile  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(1000)), 99) == 989
    assert percentile(list(range(999)), 99) is None
    assert percentile(list(range(20)), 50) == 9
    assert percentile(list(range(19)), 50) is None
    assert percentile([], 50) is None
    assert tail_percentile(list(range(1000))) == (99.0, 989)
    assert tail_percentile(list(range(200))) == (95.0, 189)
    assert tail_percentile(list(range(50))) is None


def test_failures_count_as_failed_and_miss_latency_limits():
    log = OpLog()
    for _ in range(6):
        log.ok(0.001)
    log.error()
    i = log.ok(0.001)
    log.mismatch(i)
    assert (log.attempted, log.failed) == (8, 2)
    assert math.isinf(log.latency[i])
    # failures sort beyond every latency: a minority leaves the median a
    # success, a majority makes the median itself a miss
    assert log.median() == 0.001
    for _ in range(8):
        log.error()
    assert math.isinf(log.median())


def test_seed_determinism():
    a = inputs.generate_pages(7, 30, 2)
    assert inputs.corpus_digest(a) == inputs.corpus_digest(inputs.generate_pages(7, 30, 3))
    assert inputs.corpus_digest(a) != inputs.corpus_digest(inputs.generate_pages(8, 30, 2))
    vocab = [(f"t{i}", 100 - i) for i in range(100)]
    assert inputs.head_queries(7, vocab, 50) == inputs.head_queries(7, vocab, 50)
    assert inputs.head_queries(7, vocab, 50) != inputs.head_queries(8, vocab, 50)
    assert inputs.cold_queries(7, vocab) == inputs.cold_queries(7, vocab)
    assert inputs.cold_queries(7, vocab) != inputs.cold_queries(8, vocab)


def test_cold_queries_name_each_term_once():
    vocab = [("a", 5), ("b", 2), ("c", 1), ("d", 3)]
    qs = inputs.cold_queries(1, vocab)
    assert sorted(qs) == ["a", "b", "d"]


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spec.PER_LAYER
    assert tuple(w["name"] for w in bench["workloads"]) == spec.WORKLOADS
    line = spec.result_line({k: 1.0 for k in spec.END_TO_END}, False, 3, 0)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == spec.END_TO_END
    assert line["correct"] is True


def test_result_line_rejects_incomplete_or_non_finite_metrics():
    full = {k: 1.0 for k in spec.PER_LAYER}
    assert spec.result_line(full, True, 5, 1)["correct"] is False
    with pytest.raises(ValueError):
        spec.result_line({**full, "extra": 1.0}, True, 5, 0)
    with pytest.raises(ValueError):
        spec.result_line({k: 1.0 for k in list(spec.END_TO_END)[1:]}, False, 5, 0)
    with pytest.raises(ValueError):
        spec.result_line({**{k: 1.0 for k in spec.END_TO_END}, "setup_s": math.inf}, False, 5, 0)


def test_result_line_after_failures_reports_unmeasured_metrics():
    # most operations failed: the median latency is itself a failure
    values = {**{k: 1.0 for k in spec.END_TO_END}, "latency_p50_ms": math.inf}
    line = spec.result_line(values, False, 5, 3)
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 5, 3)
    assert line["metrics"]["latency_p50_ms"]["value"] == spec.UNMEASURED
    assert line["metrics"]["setup_s"]["value"] == 1.0
    # the workload raised before producing any metric
    line = spec.result_line({}, True, 1, 1)
    assert set(line["metrics"]) == set(spec.PER_LAYER)
    assert all(m["value"] == spec.UNMEASURED for m in line["metrics"].values())
    json.dumps(line, allow_nan=False)


def test_paired_overhead_cancels_store_growth():
    from perfbench.workloads import _paired_overhead

    # batch 0 is warm-up; batch time grows linearly with the store;
    # traced batches 2 and 4 cost 10% more than their untraced neighbours
    log, batches = OpLog(), []
    for b, t in enumerate([9.0, 1.0, 2.2, 3.0, 4.4, 5.0]):
        batches.append({"measured": b > 0, "traced": b in (2, 4), "rows": [], "op": log.ok(t)})
    assert _paired_overhead(batches, log) == pytest.approx(0.1)
    batches[3]["op"] = log.error()
    assert _paired_overhead(batches, log) is None


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("op.query", request=0) as root:
        with tr.span("serving.search") as child:
            pass
    tr.active = False
    with tr.span("op.query", request=1):
        pass
    assert len(tr.spans) == 2 and tr.spans[1]["parent"] == 0 and tr.spans[1]["request"] == 0
    st = tr.self_times()
    assert st["serving"] == pytest.approx(child["end"] - child["start"])
    assert st["op"] == pytest.approx((root["end"] - root["start"]) - st["serving"])
