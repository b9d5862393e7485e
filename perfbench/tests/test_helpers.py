"""Tests for the benchmark's pure helpers (no Spark):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from perfbench import checks, measure, oplist
from perfbench.run import Loop
from perfbench.spans import Recorder, Span, covered, self_times


# -- seeded op lists -----------------------------------------------------
@pytest.mark.parametrize("workload", oplist.WORKLOADS)
def test_same_seed_same_ops(workload):
    assert oplist.build(workload, 7, "/out") == oplist.build(workload, 7, "/out")


def test_different_seed_different_constants():
    a, b = oplist.interactive_ops(1), oplist.interactive_ops(2)
    assert {op.key for op in a} != {op.key for op in b}
    ea, eb = oplist.export_ops(1, "/out"), oplist.export_ops(2, "/out")
    assert {op.key for op in ea} != {op.key for op in eb}
    pa, pb = oplist.pipeline_ops(1), oplist.pipeline_ops(3)
    assert [op.key for op in pa] != [op.key for op in pb]


@pytest.mark.parametrize("workload", oplist.WORKLOADS)
def test_cycle_composition_is_seed_independent(workload):
    compositions = {
        tuple(sorted(Counter(op.template for op in oplist.build(workload, s, "/out")).items()))
        for s in range(50)
    }
    assert len(compositions) == 1


def test_pipeline_cycle_is_odd_and_runs_every_query():
    # an odd op count puts the median on one op's samples
    for seed in range(20):
        ops = oplist.pipeline_ops(seed)
        assert len(ops) % 2 == 1
        assert {op.key for op in ops} == set(oplist.PIPELINE_QUERIES)


def test_constants_come_from_the_pools():
    for seed in range(20):
        for op in oplist.interactive_ops(seed):
            build, pool = oplist.INTERACTIVE_TEMPLATES[op.template]
            assert op.text in {build(p) for p in pool}


def test_unknown_workload_is_rejected():
    with pytest.raises(ValueError):
        oplist.build("nope", 1, "/out")


# -- percentile rule -----------------------------------------------------
@pytest.mark.parametrize("n", list(range(20, 260, 7)) + [100, 99, 101])
def test_tail_rule_keeps_min_tail_samples_beyond(n):
    samples = random.Random(n).sample(range(10_000), n)
    q, exact = measure.tail_quantile(n)
    value = measure.percentile([float(x) for x in samples], q)
    assert sum(x > value for x in samples) >= measure.MIN_TAIL
    assert exact == (n >= 100)
    assert q <= 0.9


def test_tail_rule_falls_back_to_median_without_a_tail():
    assert measure.tail_quantile(7) == (0.5, False)
    assert measure.tail_quantile(100) == (0.9, True)


def test_percentile_interpolates():
    assert measure.percentile([4.0, 1.0, 3.0, 2.0], 0.5) == 2.5
    assert measure.percentile([1.0, 2.0, 3.0], 1.0) == 3.0
    assert measure.percentile([5.0], 0.9) == 5.0


# -- whole cycles --------------------------------------------------------
def test_cycle_count_depends_on_budget_only():
    assert measure.cycles_for(10, 2.5) == 4
    assert measure.cycles_for(10, 7.5) == measure.MIN_CYCLES
    assert measure.cycles_for(0, 1.0) == measure.MIN_CYCLES
    for w in oplist.WORKLOADS:
        assert measure.cycles_for(10, oplist.NOMINAL_CYCLE_S[w]) >= measure.MIN_CYCLES
        assert oplist.WARM_CYCLES[w] >= 0


def test_loop_runs_whole_cycles():
    ops = oplist.interactive_ops(3)
    warm = {op.key: checks.digest(op.text) for op in ops}
    for cycles in (1, 2, 5):
        loop = Loop(ops, lambda op: op.text, warm)
        assert len(loop.run(cycles)) == cycles * len(ops)
        assert set(loop.per_key.values()) == {cycles}
        assert not loop.failed_per_key


def test_loop_counts_wrong_and_raising_ops():
    ops = oplist.pipeline_ops(1)
    warm = {op.key: checks.digest([("ok",)]) for op in ops}

    def runner(op):
        if op.key == "q_text_quality":
            raise RuntimeError("boom")
        return [("bad",)] if op.key == "q_sim_topk" else [("ok",)]

    loop = Loop(ops, runner, warm)
    loop.run(2)
    assert loop.failed_per_key == Counter({"q_text_quality": 2, "q_sim_topk": 2})
    assert loop.errors and "boom" in loop.errors[0]


# -- spans ---------------------------------------------------------------
def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span(0, "engine.execute_sql", 0.0, 10.0, None, 0),
        Span(1, "engine.sql", 1.0, 4.0, 0, 0),
        Span(2, "compat.rewrite", 1.5, 2.0, 1, 0),
        Span(3, "py4j", 2.0, 3.5, 1, 0),
        Span(4, "formats.format_result", 5.0, 9.0, 0, 0),
        Span(5, "pyspark.collect", 5.5, 8.5, 4, 0),
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 1.0, 2: 0.5, 3: 1.5, 4: 1.0, 5: 3.0}


def test_recorder_nests_and_tags_ops():
    ticks = iter(range(100))
    rec = Recorder(clock=lambda: float(next(ticks)))
    rec.op = 4
    outer = rec.begin("a")
    inner = rec.begin("b")
    rec.end(inner)
    rec.end(outer)
    rec.enabled = False
    assert rec.begin("c") is None
    assert [(s.name, s.parent, s.op, s.duration) for s in rec.spans] == [
        ("a", None, 4, 3.0), ("b", 0, 4, 1.0)]


# -- output checks -------------------------------------------------------
def test_check_json_reads_missing_keys_as_null():
    out = '[{"k":"a","n":1},{"n":3}]'
    assert checks.check_json(out, ["k", "n"], [("a", 1), (None, 3)]) is None
    assert "row 1" in checks.check_json(out, ["k", "n"], [("a", 1), ("b", 3)])


def test_parse_tables_splits_statement_results():
    out = "\n".join([
        "+-------+", "| count |", "+-------+", "| 2     |", "+-------+",
        "+--------+", "| result |", "+--------+", "+--------+",
        "+---+-----+", "| a | b   |", "+---+-----+", "| 1 | 2.5 |", "| 3 |     |", "+---+-----+",
    ])
    assert checks.parse_tables(out) == [
        (["count"], [["2"]]), (["result"], []), (["a", "b"], [["1", "2.5"], ["3", ""]])]
    assert checks.check_export(out, ["a", "b"], [(1, 2.5), (3, None)]) is None
    assert checks.check_export(out, ["a", "b"], [(1, 2.5)]).startswith("COPY")


def test_digest_of_rows_ignores_order():
    assert checks.digest([(1, "a"), (2, "b")]) == checks.digest([(2, "b"), (1, "a")])
    assert checks.digest("x") != checks.digest("y")
