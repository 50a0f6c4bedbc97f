"""Span self-time arithmetic and the wrapping of the program's layers."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.run import layer_metrics
from perfbench.tracing import Span, Tracer, self_times


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        Span(0, "query", 0.0, 10.0, None, 1),
        # two overlapping children cover [1, 4]
        Span(1, "operators.dedup.dedup_groups", 1.0, 3.0, 0, 1),
        Span(2, "operators.persist.pin", 2.0, 4.0, 0, 1),
        # a grandchild counts against its parent only
        Span(3, "operators.rank.global_topk", 2.5, 3.5, 2, 1),
        # a child running past its parent is clipped to it
        Span(4, "operators.similarity.l2_normalize", 9.0, 12.0, 0, 1),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(2.0 - 1.0)
    assert selfs[3] == pytest.approx(1.0)
    assert selfs[4] == pytest.approx(3.0)


def test_tracer_records_parents_and_pass():
    tracer = Tracer()
    tracer.active = True
    tracer.pass_no = 3
    with tracer.span("query"):
        with tracer.span("queries.build"):
            pass
        with tracer.span("sink.exec"):
            pass
    assert [(s.name, s.parent, s.pass_no) for s in tracer.spans] == [
        ("query", None, 3),
        ("queries.build", 0, 3),
        ("sink.exec", 0, 3),
    ]
    assert all(s.end >= s.start for s in tracer.spans)


def test_inactive_tracer_records_nothing():
    tracer = Tracer()
    with tracer.span("query"):
        pass
    assert tracer.spans == []


def test_layer_metrics_are_per_steady_pass_self_times():
    spans = [
        Span(0, "queries.build", 0.0, 4.0, None, 1),
        Span(1, "operators.dedup.dedup_groups", 0.0, 3.0, 0, 1),
        Span(2, "operators.persist.pin", 1.0, 2.0, 1, 1),
        Span(3, "operators.bpe.learn", 3.0, 3.5, 0, 1),
        Span(4, "sink.exec", 4.0, 5.0, None, 1),
        Span(5, "queries.build", 0.0, 2.0, None, 2),
        Span(6, "operators.dedup.dedup_groups", 0.0, 1.0, 5, 2),
        Span(7, "sink.exec", 2.0, 3.0, None, 2),
        # the first pass is not a steady pass
        Span(8, "queries.build", 0.0, 50.0, None, 0),
    ]
    out = layer_metrics(spans, [1, 2], {}, [(0.5, 10, 40), (0.3, 10, 20)])
    assert out["queries.build_s"] == pytest.approx(3.0)
    assert out["sink.exec_s"] == pytest.approx(1.0)
    assert out["operators.dedup.self_s"] == pytest.approx((2.0 + 1.0) / 2)
    assert out["operators.dedup.calls"] == pytest.approx(1.0)
    assert out["operators.persist.self_s"] == pytest.approx(0.5)
    # bpe is no declared module: its time shows only in queries.build_s
    assert not any(k.startswith("operators.bpe") for k in out)
    assert out["plans.user_fn_s"] == pytest.approx(0.4)
    assert out["plans.reduce_calls"] == pytest.approx(10.0)
    assert out["plans.rows_per_reduce"] == pytest.approx(3.0)


INSTALL_CHECK = """
import pickle
from pyspark import cloudpickle
from mapreducefw_spark.operators import persist
from perfbench.tracing import Tracer, install

original = persist.pin
tracer = Tracer()
tracer.active = True
names = install(tracer)
assert {"operators.persist.pin", "plans.map_reduce", "plans.run_map_reduce"} <= set(names)
assert persist.pin.__wrapped__ is original
# pickled by reference, so a worker that unpickles it imports the module and
# gets the unwrapped original
assert pickle.loads(cloudpickle.dumps(persist.pin)) is persist.pin
# query modules imported afterwards bind the wrapped functions
from mapreducefw_spark.queries import pipeline43
assert pipeline43.pin is persist.pin
print("ok")
"""


def test_install_wraps_public_functions_before_queries_import():
    # a fresh interpreter, so the wrapping does not leak into other tests
    repo = Path(__file__).resolve().parents[2]
    out = subprocess.run(
        [sys.executable, "-c", INSTALL_CHECK], cwd=repo, capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
