"""DFA order-evaluation parity with the reference's FSM analysis.

Mirrors ``cpg-analysis/src/test/kotlin/.../fsm/SimpleDFAOrderEvaluationTest.kt``
and ``ComplexDFAOrderEvaluationTest.kt`` over the reference's own fixture
programs (``resources/analyses/ordering/{SimpleOrder,ComplexOrder}.java``),
adapted to the subset parser: every ok*/nok* function keeps its reference
statement sequence, and every assertTrue/assertFalse in those test classes
becomes one expected verdict row here.
"""

from __future__ import annotations

import pytest

from cpg_spark.operators.order_fsm import evaluate_order
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

from cpg_spark.fixtures_order import (  # noqa: F401
    COMPLEX_DFA, COMPLEX_ORDER, SIMPLE_DFA, SIMPLE_ORDER)

SIMPLE_EXPECTED = {
    "ok": True,       # testSuccessForFSM
    "ok2": True,      # testSuccessWithIgnoredFunctionFSM (foo() not in entity)
    "ok3": True,      # testSuccessWithIfElseFSM
    "nok1": False,    # testFailWrongStartFSM (set_key before start)
    "nok2": False,    # testFailIncompleteFSM (missing finish)
    "nok3": False,    # testFailConditionallyIncompleteFSM (path skips start)
    "nok4": False,    # testFailDoubleInitFSM (start after finish; if(true))
}

COMPLEX_EXPECTED = {
    "ok_minimal1": True,
    "ok_minimal2": True,
    "ok_minimal3": True,
    "ok2": True,       # process()* loop
    "ok3": True,       # (start process finish)+ twice
    "ok4": True,       # + reset
    "nok1": False,     # missing create
    "nok2": False,     # if(false) kills the protocol body; reset from q3
    "nok3": False,     # while(true) restarts create from q6
    "nokWhile": False, # path may skip the loop entirely -> reset from q3
    "okWhile": True,
    "okWhile2": True,  # while(true): exit unreachable, loop restart legal
    "okDoWhile": True, # body-first loop runs the protocol at least once
}


def _verdicts(spark, src: str, dfa: dict, base_type: str) -> dict[str, bool]:
    g = CpgGraph(code_docs(spark, [("java/order/0001", "code/java", src)]))
    rows = evaluate_order(g.nodes, g.edges, dfa, base_type).collect()
    out: dict[str, bool] = {}
    for r in rows:
        out[r["function"]] = out.get(r["function"], True) and r["everything_ok"]
    return out


def test_simple_order_parity(spark):
    got = _verdicts(spark, SIMPLE_ORDER, SIMPLE_DFA, "Botan")
    assert got == SIMPLE_EXPECTED


def test_complex_order_parity(spark):
    got = _verdicts(spark, COMPLEX_ORDER, COMPLEX_DFA, "Botan2")
    assert got == COMPLEX_EXPECTED


@pytest.mark.parametrize("fn,reason", [
    ("nok1", "wrong_order"),     # set_key has no transition from q1
    ("nok2", "incomplete"),      # ends in q2, not accepting
])
def test_simple_order_reasons(spark, fn, reason):
    g = CpgGraph(code_docs(spark, [("java/order/0001", "code/java",
                                    SIMPLE_ORDER)]))
    rows = evaluate_order(g.nodes, g.edges, SIMPLE_DFA, "Botan").collect()
    by_fn = {r["function"]: r for r in rows}
    assert by_fn[fn]["reason"] == reason


def test_fsm_dot_string():
    """FSMTest.testFSMDotFile: the DOT rendering is byte-identical to
    the reference's DFA.toDotString() over the same 5-state FSM."""
    from cpg_spark.operators.order_fsm import to_dot

    dfa = {
        "start": "q1",
        "accepting": {"q2", "q3", "q5"},
        "edges": [
            ("q1", "create()", "q2"),
            ("q2", "check_whole_msg()", "q3"),
            ("q2", "update()", "q4"),
            ("q2", "check_after_update()", "q5"),
            ("q3", "check_whole_msg()", "q3"),
            ("q4", "update()", "q4"),
            ("q4", "check_after_update()", "q5"),
            ("q5", "check_after_update()", "q5"),
            ("q5", "update()", "q4"),
        ],
    }
    want = (
        "digraph fsm {\n"
        '\t"" [shape=point];\n'
        "\tq1 [shape=circle];\n"
        "\tq2 [shape=doublecircle];\n"
        "\tq3 [shape=doublecircle];\n"
        "\tq4 [shape=circle];\n"
        "\tq5 [shape=doublecircle];\n"
        '\t"" -> q1;\n'
        '\tq1 -> q2 [label="v.create()"];\n'
        '\tq2 -> q3 [label="v.check_whole_msg()"];\n'
        '\tq2 -> q4 [label="v.update()"];\n'
        '\tq2 -> q5 [label="v.check_after_update()"];\n'
        '\tq3 -> q3 [label="v.check_whole_msg()"];\n'
        '\tq4 -> q4 [label="v.update()"];\n'
        '\tq4 -> q5 [label="v.check_after_update()"];\n'
        '\tq5 -> q5 [label="v.check_after_update()"];\n'
        '\tq5 -> q4 [label="v.update()"];\n'
        "}"
    )
    assert to_dot(dfa, base="v",
                  state_order=["q1", "q2", "q3", "q4", "q5"]) == want
