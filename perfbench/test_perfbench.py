"""Self-tests for the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import time

import pandas as pd

from perfbench import metrics
from perfbench.handlers import delivery_problems
from perfbench.oracle import digest, mismatch
from perfbench.tracing import Span, Tracer, attribute, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "eventlog")


def _benchmark() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layers == metrics.PER_LAYER
    for trace, names in ((False, e2e), (True, layers)):
        out = metrics.assemble({"round_s": 1.5}, trace)
        assert set(out) == set(names)
        assert all(v["unit"] == names[k] for k, v in out.items())


def test_workload_names_match_benchmark_json():
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in _benchmark()["workloads"]] == list(WORKLOADS)


def test_span_tree_parents_are_consistent():
    tr = Tracer()
    run = tr.open("run")
    phase = tr.open("round.0")
    step = tr.open("produce", group="drain.produce")
    tr.close(step)
    tr.close(phase)
    tr.close(run)
    assert tr.check_tree() == []
    assert [s.parent for s in tr.spans] == [None, 0, 1]
    assert tr.step_spans() == [step]


def test_span_tree_flags_bad_links():
    tr = Tracer()
    tr.spans = [
        Span(0, "run", None, 10.0, 20.0),
        Span(1, "late child", 0, 15.0, 25.0),
        Span(2, "forward parent", 3, 11.0, 12.0),
        Span(3, "open", 0, 12.0),
    ]
    problems = tr.check_tree()
    assert any("late child" in p and "outside" in p for p in problems)
    assert any("forward parent" in p for p in problems)
    assert any("open" in p and "never closed" in p for p in problems)


def test_span_close_out_of_order_raises():
    tr = Tracer()
    a = tr.open("a")
    tr.open("b")
    try:
        tr.close(a)
    except RuntimeError:
        return
    raise AssertionError("closing a non-innermost span must raise")


def test_event_log_fixture_attribution():
    """A recorded event log (trimmed to the fields the parser reads): three
    jobs tagged with a span id through their description, six streaming
    jobs that carry Spark's own batch description and fall in the
    ``strict`` span's window, and two jobs before any step span."""
    events = read_event_log(FIXTURE)
    assert sum(e["Event"] == "SparkListenerJobStart" for e in events) == 11
    with open(os.path.join(FIXTURE, "..", "eventlog_spans.json")) as f:
        spans = [Span(**s) for s in json.load(f)]
    out = attribute([s for s in spans if s.group], events)
    with open(os.path.join(FIXTURE, "..", "eventlog_expected.json")) as f:
        expected = json.load(f)
    assert set(out) == set(expected)
    for group, fields in expected.items():
        for field, value in fields.items():
            assert abs(out[group][field] - value) < 1e-6, (group, field, out[group][field])
    assert {g: f["jobs"] for g, f in out.items()} == {
        "drain.produce": 1,
        "drain.strict": 6,
        "operators.relational": 2,
    }


def test_delivery_checks():
    ids = ["1-0", "1-1", "2-0", "2-1"]
    calls = [(t, k, i, 1) for t, (k, i) in enumerate(zip("abab", ids))]
    assert delivery_problems(calls, ids, strict=True) == []
    assert delivery_problems(calls, ids, strict=False) == []
    swapped = [(0, "a", "1-1", 1), (1, "b", "1-0", 1)] + calls[2:]
    assert delivery_problems(swapped, ids, strict=True)
    # by_key: a and b each keep their own order although the global order differs
    interleaved = [(0, "b", "1-1", 1), (1, "a", "1-0", 1), (2, "a", "2-0", 1), (3, "b", "2-1", 1)]
    assert delivery_problems(interleaved, ids, strict=False) == []
    per_key_broken = [(0, "a", "2-0", 1), (1, "a", "1-0", 1), (2, "b", "1-1", 1), (3, "b", "2-1", 1)]
    assert delivery_problems(per_key_broken, ids, strict=False)
    dup = calls + [(9, "a", "1-0", 1)]
    assert delivery_problems(dup, ids, strict=False)
    assert delivery_problems(calls[:3], ids, strict=False)


def test_oracle_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": [0.1, 0.2]})
    b = pd.DataFrame({"y": [0.2, 0.1], "x": [2, 1]})
    assert mismatch(digest(a), digest(b)) is None
    c = pd.DataFrame({"y": [0.2, math.nextafter(0.1, 1.0)], "x": [2, 1]})
    assert mismatch(digest(a), digest(c)) == "value hash differs"
    assert mismatch(digest(a), digest(a.head(1))).startswith("rows")


def test_rss_counts_descendant_processes():
    import subprocess
    import sys

    from perfbench.run import _descendants, _vm_hwm_kb

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in _descendants(os.getpid())
        assert _vm_hwm_kb(child.pid) > 0
    finally:
        child.kill()
        child.wait()
    assert _vm_hwm_kb(child.pid) == 0


def test_tree_cpu_counts_descendant_processes():
    import subprocess
    import sys

    from perfbench.run import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    burn = "\n".join(
        [
            "import time",
            "t = time.process_time()",
            "while time.process_time() - t < 0.5: pass",
            "time.sleep(30)",
        ]
    )
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        deadline = time.monotonic() + 20
        while tree_cpu_s(os.getpid()) - before < 0.4 and time.monotonic() < deadline:
            time.sleep(0.1)
        assert tree_cpu_s(os.getpid()) - before >= 0.4
    finally:
        child.kill()
        child.wait()


def test_best_of_keeps_the_shortest_try():
    from perfbench.run import _best_of

    pauses = iter([0.05, 0.0, 0.05])
    assert _best_of(3, lambda: time.sleep(next(pauses))) < 0.04
