"""Tests of the benchmark itself: python3 -m pytest rulebench/tests -q"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from rulebench import gen, oracle, workloads  # noqa: E402
from rulebench.tracing import Span, StatusReader, Tracer, self_times  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from rulebench import box

    work = str(tmp_path_factory.mktemp("rulebench"))
    box.confine(work, ROOT)
    spark, _ = box.start_session(work)
    yield spark
    box.stop_session(spark)


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert gen.lineitem(7, 500).equals(gen.lineitem(7, 500))
    assert not gen.lineitem(7, 500).equals(gen.lineitem(8, 500))
    assert gen.rule_specs(7, 120, 12) == gen.rule_specs(7, 120, 12)
    assert gen.rule_specs(7, 120, 12) != gen.rule_specs(8, 120, 12)
    assert gen.documents(7, 300).equals(gen.documents(7, 300))
    assert not gen.documents(7, 300).equals(gen.documents(8, 300))


def test_generated_suite_mixes_rule_kinds():
    specs = gen.rule_specs(3, 200, 20)
    kinds = {s.kind for s in specs}
    assert kinds == {"bool", "prob", "soft", "disabled"}
    assert any("margin(" in s.spark or "in_range(" in s.spark for s in specs)
    assert len({s.set_id for s in specs}) == 20
    assert sorted(s.salience for s in specs) == list(range(1, 201))


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: 1..6 is covered once
        Span("c", 8.0, 12.0, parent=0),  # runs past its parent: 8..10 counts
        Span("a.x", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 3.0, 4.0, 1.0])


def test_status_reader_counts_range_group_by_tasks(spark):
    from pyspark.sql import functions as F

    tracer = Tracer(spark, "t")
    tracer.enabled = True
    with tracer.span("exec.collect", jobs=True) as s:
        spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    assert s.counters["jobs"] >= 1
    assert s.counters["tasks"] > 0
    assert s.counters["shuffle_write_bytes"] > 0
    assert StatusReader(spark).group_counters("no-such-group")["jobs"] == 0


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_oracle_matches_engine_on_tiny_inputs(spark, tmp_path, name, monkeypatch):
    cls = workloads.WORKLOADS[name]
    sizes = {
        "dq_batch": {"ROWS": 6000, "RULES": 60, "SETS": 6},
        "construct_mix": {
            "SCHEDULE": (("dq", 12), ("engine", 12), ("folder", 12), ("sparkless", 12), ("curation", 0)),
            "DOCS": 200,
        },
    }[name]
    for k, v in sizes.items():
        monkeypatch.setattr(cls, k, v)
    wl = cls(spark, 5, str(tmp_path), Tracer(spark, name))
    wl.setup(0)
    for i in range(wl.cycle):
        prep = wl.prepare(i)
        assert wl.check(i, prep, wl.op(i, prep)), f"{name} op {i} disagrees with the oracle"


def test_oracle_detects_a_wrong_result(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads.DqBatch, "ROWS", 600)
    wl = workloads.DqBatch(spark, 5, str(tmp_path), Tracer(spark, "t"))
    wl.setup(0)
    counts, failed = wl.op(0, None)
    assert wl.check(0, None, (counts, failed))
    assert not wl.check(0, None, (counts, failed + 1))
    rule, (passed, fails, soft) = next(iter(counts.items()))
    counts[rule] = (passed - 1, fails + 1, soft)
    assert not wl.check(0, None, (counts, failed))


def test_union_find_keeps_smallest_id_per_component():
    keep = oracle.union_find_keep([1, 2, 3, 4, 5], [(2, 3), (3, 5)])
    assert keep == {1: True, 2: True, 3: False, 4: True, 5: False}
