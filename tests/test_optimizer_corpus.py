"""The reference's optimizer test corpus, run against optimize_steps.

Every case of miso-optimizations/src/tests.rs (extracted at test time
by tests/optimizer_corpus.py — 119 checks) runs through this repo's
pushdown-enabling rewrite fixpoint (miso_spark/rewrite.py) and lands
in exactly one bucket:

- **exact** (default): our output equals the reference's expected
  steps (Mux* merge-side steps mapped to their plain equivalents —
  Spark's partial aggregation is the mux stage).
- **DELEGATED**: the pass is Catalyst's job (constant folding, filter
  reordering, sort elimination, empty-relation propagation, project
  collapsing, limit-through-union…). Our rewriter must leave the
  steps untouched; the physical-plan behavior is separately pinned in
  tests/test_plans.py.
- **GUARDED**: the reference's rewrite is unsound against its own
  runtime (resurrecting columns a restrictive project dropped —
  summarize.rs:151 drops null group keys, so the original pipeline
  returns nothing while the rewritten one returns groups; or deleting
  a TopN/Expand and changing row multiplicity). Our
  _propagation_hazard guard refuses; output must equal the input.
- **EQUIVALENT**: our output differs from the reference's shape but
  is semantically equal (or strictly sound where theirs is not) — an
  explicit per-case assertion pins OUR shape.

Self-policing like test_reference_parity's routing table: a routed
case that starts exact-matching fails the gate, so entries can't rot.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

import optimizer_corpus as oc  # noqa: E402

from miso_spark import plan as P  # noqa: E402
from miso_spark.exprs import Bin, BinOp, Case, Field, Lit  # noqa: E402
from miso_spark.rewrite import optimize_steps  # noqa: E402

pytestmark = pytest.mark.skipif(
    not os.path.exists(oc.REF), reason="reference checkout not present"
)


def _norm(steps):
    out = []
    for s in steps:
        if isinstance(s, P.SummarizeStep):
            out.append(P.SummarizeStep(tuple(sorted(s.aggs)), s.by))
        elif isinstance(s, P.Union):
            out.append(P.Union(P.Plan(_norm(s.sub.steps))))
        else:
            out.append(s)
    return tuple(out)


#: Catalyst performs the pass at logical/physical planning — the
#: rewrite layer correctly leaves these untouched (Spark rule named)
DELEGATED = {
    "filter_before_sort": "PushDownPredicates reorders filters below sorts",
    "reorder_filter_before_sort": "PushDownPredicates",
    "merge_filters": "CombineFilters",
    "remove_sorts_before_count": "EliminateSorts under aggregates",
    "remove_sorts_before_summarize": "EliminateSorts",
    "remove_redundant_steps_before_count": "EliminateSorts/CollapseProject",
    "remove_redundant_steps_before_summarize": "EliminateSorts/CollapseProject",
    "dont_remove_sorts_before_limit_before_count": "EliminateSorts keeps the limit-guarded sort",
    # summarize_into_union moved to EXACT in r11: the dcount split now
    # fires with an engine-INTERNAL keep_null_keys partial (the
    # reference's own partial drops null group keys, summarize.rs:151,
    # losing the null bucket its dcount counts and the arg-null rows
    # from sibling aggregates — ours keeps them; the flag is invisible
    # to _norm's shape comparison and semantically strictly sounder)
    "remove_no_op_filter_where_true": "BooleanSimplification + PruneFilters",
    "where_false_short_circuits": "PruneFilters + PropagateEmptyRelation",
    # const_fold_* cases moved to EXACT in r10: fold_exprs
    # (rewrite.py) now runs the shared partial evaluator over
    # filter/project/extend expressions engine-side, because wire
    # requests are built from this tree BEFORE Catalyst's
    # ConstantFolding can help
    "join_inner_right_short_circuit_returns_empty::case": "PropagateEmptyRelation",
    "join_left_outer_short_circuit_removes_join::case": "PropagateEmptyRelation",
    "remove_redundant_sort_before_topn_exact_match": "EliminateSorts under TakeOrdered",
    "remove_redundant_sort_before_topn_prefix": "EliminateSorts",
    "remove_redundant_sort_before_mux_topn": "EliminateSorts",
    # summarize_const_to_project + filter_propagation_* moved to
    # EXACT in r10: propagate_filter_constraints substitutes filter
    # facts into summarize BY exprs, fold_exprs collapses the
    # now-constant CASE, and summarize_const_to_project turns the
    # agg-less all-literal summarize into Limit(1)+Project — all
    # engine-side, where the wire aggregation is built
    "merge_consecutive_extends_basic_rename": "CollapseProject",
    "merge_consecutive_extends_conflict_resolution": "CollapseProject",
    "merge_consecutive_extends_complex_expr": "CollapseProject",
    "merge_consecutive_extends_self_referencing_overwrite": "CollapseProject",
}

#: the reference's ProjectPropagation is unsound against its own
#: runtime here — resurrection of dropped columns (its summarize
#: drops null group keys, summarize.rs:151, so 'by' on a projected-
#: away column returns NOTHING originally and real groups after the
#: rewrite), dropped extend/topn/expand outputs. _propagation_hazard
#: (rewrite.py) refuses; the input passes through unchanged.
GUARDED = {
    "test_project_propagation_through_next_step::literal topn removed":
        "deleting TopN drops its row limit",
    "test_project_propagation_through_project::rename project through extend":
        "restrictive project after extend drops the extend's column",
    "test_project_propagation_through_project::literal through project":
        "end project reads a column the lead project dropped",
    "test_project_propagation_through_project::literal through extend":
        "restrictive project after extend drops the extend's column",
    "test_project_propagation_through_project::mixed rename project and literal through extend":
        "restrictive project after extend drops the extend's column",
    "test_project_propagation_rename_through_summarize::rename project sum aggregation":
        "summarize by a column the lead project dropped",
    "test_project_propagation_rename_through_summarize::rename project min aggregation":
        "summarize by a column the lead project dropped",
    "test_project_propagation_rename_through_summarize::rename project max aggregation":
        "summarize by a column the lead project dropped",
    "test_project_propagation_rename_through_summarize::rename project dcount aggregation":
        "summarize by a column the lead project dropped",
    "test_project_propagation_literal_through_summarize::literal sum becomes count times literal":
        "summarize by a column the lead project dropped",
    "test_project_propagation_literal_through_summarize::literal min becomes extend with literal":
        "summarize by a column the lead project dropped",
    "test_project_propagation_literal_through_summarize::literal dcount becomes extend with 1":
        "summarize by a column the lead project dropped",
    "test_project_propagation_summarize_variants::rename project through mux_summarize":
        "summarize by a column the lead project dropped",
    "test_project_propagation_summarize_variants::rename project through summarize with count":
        "summarize by a column the lead project dropped",
    "test_project_propagation_multi_step::literal through filter with expand removed":
        "deleting mv-expand changes row multiplicity",
    "test_project_propagation_drop_unused_field_through_summarize":
        "summarize by a column the lead project dropped",
}


def _eq_literal_through_filter(got, case):
    # the substituted comparison now const-folds to a `where true`
    # (fold_exprs, r10); the step itself stays — removing it is
    # PruneFilters' job engine-side, and a no-op filter is absorbable
    # wire-side. Project moved last, as the reference expects.
    assert got[0] == P.Filter(Lit(True))
    assert got[-1] == case.input[0]


def _eq_two_extends(got, case):
    # two extends instead of the reference's merged one (CollapseProject
    # fuses them physically); both read the SOURCE b
    assert [type(s).__name__ for s in got] == ["Limit", "Extend", "Extend"]
    assert got[1].fields[0] == P.ProjectField(Field.of("b"), "c")
    assert got[2].fields[0] == P.ProjectField(Field.of("b"), "a")


def _eq_by_rename_folds(got, case):
    # ours folds `project z = c | summarize by z` into ONE summarize
    # whose by-name is already z — same output columns, no trailing
    # rename project needed
    assert got == (
        P.SummarizeStep((), (P.ByField(Field.of("c"), "z"),)),
    )


def _eq_by_bin_folds(got, case):
    assert got == (
        P.SummarizeStep(
            (), (P.ByField(Bin(Field.of("z"), Lit(2)), "x"),)
        ),
    )


def _eq_case_filter(got, case):
    # the substituted CASE comparison stays (case_transform/Catalyst
    # fold it downstream) and the extend's output column is PRESERVED
    # — the reference deletes the extend, losing `code` from the output
    assert [type(s).__name__ for s in got] == ["Filter", "Extend"]
    assert got[1] == case.input[0]


def _eq_simultaneous_binding(got, case):
    # project fields evaluate SIMULTANEOUSLY against the input row
    # (the reference's own runtime: project.rs:42-63 evaluates every
    # field against the original log), so `c = a + d` reads the
    # INPUT's a. The reference's ExprSubstitute recurses into
    # replacements (expr_substitude.rs:78 transform of the mapped
    # expr), rewriting c to b + d — unsound when the input has its
    # own a column.
    assert got[0] == P.Filter(
        BinOp(
            "gt",
            BinOp("add", Field.of("a"), Field.of("d")),
            Lit(0),
        )
    )
    assert got[-1] == case.input[0]


def _eq_limit_pushed_into_dead_union(got, case):
    # the limit PUSHES into the (filter-false) union branch and caps
    # the main/merged streams; removing the dead union itself is
    # PropagateEmptyRelation's job at physical planning
    assert got == (
        P.Limit(10),
        P.Union(P.Plan((P.Filter(Lit(False)), P.Limit(10)))),
        P.Limit(10),
    )


#: our output differs from the reference's expected shape but is
#: semantically equal (or strictly sound where theirs is not)
EQUIVALENT = {
    "union_inner_short_circuit_removes_union":
        _eq_limit_pushed_into_dead_union,
    "test_project_propagation_through_next_step::literal through filter":
        _eq_literal_through_filter,
    "test_project_propagation_multi_step::literal through filter with sort removed":
        _eq_literal_through_filter,
    "test_project_propagation_through_project::extend rename project through extend":
        _eq_two_extends,
    "test_project_propagation_rename_by_clause_field_through_summarize":
        _eq_by_rename_folds,
    "test_project_propagation_rename_by_clause_field_through_summarize#1":
        _eq_by_rename_folds,
    "test_project_propagation_rename_summarize_by_bin": _eq_by_bin_folds,
    "test_project_propagation_rename_summarize_by_bin#1": _eq_by_bin_folds,
    "test_project_propagation_complex_expr_through_filter": _eq_case_filter,
    "test_project_propagation_chained_field_in_expr":
        _eq_simultaneous_binding,
}


# loaded only when the reference checkout is present, so the module's
# skipif reports the arms skipped instead of the load erroring at import
CASES, ERRORS = oc.load_cases() if os.path.exists(oc.REF) else ([], [])


def test_extraction_is_complete():
    """Every check in tests.rs extracts — no silent skips."""
    assert not ERRORS, ERRORS
    assert len(CASES) >= 119


def test_routing_tables_are_live():
    """Routed names must exist in the corpus (stale entries fail)."""
    names = {c.name for c in CASES}
    for table in (DELEGATED, GUARDED, EQUIVALENT):
        missing = set(table) - names
        assert not missing, f"stale routing entries: {missing}"


@pytest.mark.parametrize("case", CASES, ids=lambda c: c.name)
def test_optimizer_corpus(case):
    got = _norm(optimize_steps(case.input))
    expected = _norm(case.expected)
    if case.name in EQUIVALENT:
        assert got != expected, f"[{case.name}] now exact — delist"
        EQUIVALENT[case.name](got, case)
        return
    if case.name in DELEGATED or case.name in GUARDED:
        assert got != expected, f"[{case.name}] now exact — delist"
        assert got == _norm(case.input), (
            f"[{case.name}] routed as pass-through but the rewriter "
            f"changed it: {got}"
        )
        return
    assert got == expected, (
        f"[{case.name}]\n IN : {case.input}\n EXP: {expected}\n GOT: {got}"
    )
