"""Spark-free checks of the benchmark's bookkeeping."""

from __future__ import annotations

import os
import time
import types

import fingerprint as fp
import harness
import layers


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "qid": "0:q", "jobs": None}


def test_self_time_subtracts_child_coverage():
    spans = [
        _span("query", 0.0, 10.0),
        _span(layers.CONSTRUCT, 0.0, 6.0, 0),
        _span("operators.cluster.connected_components", 1.0, 4.0, 1),
        _span("functions.rounding.pround", 1.5, 2.0, 2),
        _span(layers.EXEC, 6.0, 9.5, 0),
    ]
    assert layers.self_times(spans) == [0.5, 3.0, 2.5, 0.5, 3.5]


def test_summarize_does_not_double_count_recursion():
    spans = [
        _span("a.f", 0.0, 4.0),
        _span("a.f", 1.0, 2.0, 0),
        _span("a.f", 5.0, 6.0),
    ]
    s = layers.summarize(spans)["a.f"]
    assert s["calls"] == 3
    assert s["s"] == 5.0
    assert s["self_s"] == 5.0


def test_plan_shape_counts_nodes():
    tree = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=9]
      +- *(2) BroadcastHashJoin [k#1], [k#3], Inner, BuildRight, false
         :- BatchEvalPython [f(x#0)#5], [pythonUDF0#6]
         :  +- FileScan parquet [k#1,x#0] Batched: true
         +- BroadcastExchange HashedRelationBroadcastMode(List(k#3)), [plan_id=7]
            +- SortMergeJoin [a#1], [b#2], Inner
               :- CartesianProduct
               +- ReusedExchange [k#3], BroadcastExchange HashedRelationBroadcastMode
"""
    assert layers.plan_shape(tree) == {
        "plan.exchanges": 1, "plan.broadcast_exchanges": 1, "plan.python_evals": 1,
        "plan.cartesian_products": 1, "plan.sort_merge_joins": 1,
        "plan.broadcast_hash_joins": 1,
    }


def test_tail_needs_ten_samples_beyond():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    value, pct = harness.tail([float(i) for i in range(20)])
    assert value == 9.0 and pct == 50.0


def test_fingerprint_is_order_insensitive_and_value_sensitive():
    cols = ["b", "a"]
    rows = [(1, 0.1 + 0.2), (2, None), (2, None)]
    same = fp.fingerprint(["a", "b"], [(None, 2), (0.3, 1), (None, 2)])
    assert fp.fingerprint(cols, rows) == same
    assert fp.fingerprint(cols, rows[:2])["hash"] != same["hash"]
    assert fp.fingerprint(cols, [(1, 0.31), (2, None), (2, None)])["hash"] != same["hash"]


def test_wrap_module_wraps_only_traced_functions():
    mod = types.ModuleType("rws_data_ingester_spark.functions.rounding")
    exec("def pround(x):\n    return x + 1\ndef other(x):\n    return x\n", mod.__dict__)
    tracer = layers.Tracer()
    layers.wrap_module(mod, "functions.rounding", tracer)
    assert not hasattr(mod.other, "__wrapped__")
    assert mod.pround.__wrapped__(1) == 2
    assert mod.pround(1) == 2 and tracer.spans == []  # disabled: no span
    tracer.enabled = True
    assert mod.pround(1) == 2 and mod.other(1) == 1
    assert [s["name"] for s in tracer.spans] == ["functions.rounding.pround"]


class _NoopWrite:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None


def test_untraced_pass_records_no_spans():
    bench = harness.Bench("curation", seed=0, seconds=0, trace=True)
    pround = bench.tracer.wrap(lambda x: x, "functions.rounding.pround")

    def query(spark, sf_dir):
        pround(1)
        return types.SimpleNamespace(write=_NoopWrite())

    bench.queries = ("q",)
    bench.registry = {"q": types.SimpleNamespace(fn=query)}
    bench.sf_dir = "."
    bench.tracer.enabled = True  # as left by a traced warm-up pass
    bench.run_pass(0, traced=False)
    assert bench.failed == 0 and bench.attempted == 1
    assert bench.tracer.spans == []


def test_process_tree_cpu_counts_busy_time():
    before = harness.tree_cpu_s(os.getpid())
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert harness.tree_cpu_s(os.getpid()) - before >= 0.2
    steal, total = harness.box_ticks()
    assert 0 <= steal <= total
