"""The reference's live-connector e2e corpus, run against the
in-process evaluating stubs (tests/search_stubs.py).

Port of tests/common/predicate_pushdown.rs same_results() over every
case of tests/common/test_cases.rs (42) plus quickwit.rs's
QUICKWIT_RAW_QUERY_TESTS (5), for each of the three connectors the
reference tests live (Elastic, Quickwit, Splunk). Per case this
asserts exactly what the reference asserts:

1. **Steps**: optimizer + pushdown leaves precisely the expected
   residual engine-side (predicate_pushdown.rs:73 compares optimized
   steps against the parse of the per-connector expected query; Scan
   equality ignores the handle, scan.rs:45).
2. **Pushdown == no-pushdown**: the same query with every apply_* hook
   refused returns the same sorted rows (predicate_pushdown.rs:132).
3. **Expected rows**: count or exact JSON logs
   (predicate_pushdown.rs:138).

The cases and document sets are extracted from the reference checkout
at test time (tests/connector_corpus.py) — nothing is copied in.
"""

from __future__ import annotations

import datetime
import json
import re
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

import connector_corpus as corpus  # noqa: E402
from search_stubs import ElasticStub, QuickwitStub, SplunkStub  # noqa: E402

from miso_spark import plan as P  # noqa: E402
from miso_spark.compiler import Compiler  # noqa: E402
from miso_spark.kql import parse_kql  # noqa: E402
from miso_spark.rewrite import optimize_steps  # noqa: E402
from miso_spark.sources import SourceRegistry  # noqa: E402
from miso_spark.sources.external import (  # noqa: E402
    ElasticsearchSource,
    QuickwitSource,
    SplunkSource,
)
from miso_spark.sources.pushdown import negotiate_to_fixpoint  # noqa: E402

pytestmark = pytest.mark.skipif(
    not os.path.exists(corpus.TEST_CASES_RS),
    reason="reference checkout not present",
)


# ---------------------------------------------------------------------------
# no-pushdown arm: refuse every apply_* hook (Optimizer::empty() analog)


class _RefuseAllHandle:
    """Wraps the real handle; every apply_* refuses so all steps stay
    engine-side. Raw queries still pass through — sending the native
    query isn't an optimization, it's the scan itself."""

    def __init__(self, inner):
        self.inner = inner

    def _refuse(self, *a, **kw):
        return None

    apply_filter = apply_project = apply_limit = apply_topn = _refuse
    apply_count = apply_summarize = apply_union = _refuse

    def with_raw_query(self, q):
        return _RefuseAllHandle(self.inner.with_raw_query(q))

    @property
    def raw_query(self):
        return getattr(self.inner, "raw_query", None)


class _NoPushSource:
    def __init__(self, inner):
        self._inner = inner

    def handle(self, collection):
        return _RefuseAllHandle(self._inner.handle(collection))

    def search(self, spark, collection, handle=None):
        real = handle.inner if isinstance(handle, _RefuseAllHandle) else handle
        return self._inner.search(spark, collection, real)

    def __getattr__(self, name):
        return getattr(self._inner, name)


# ---------------------------------------------------------------------------
# fixtures: stub + source per connector

def _cases(load):
    """A corpus case list for parametrize. Without the reference
    checkout there is nothing to load: the arms collect empty and the
    module's skipif reports them skipped, instead of the load erroring
    the whole module at import."""
    return load() if os.path.exists(corpus.TEST_CASES_RS) else []


BASE = _cases(corpus.load_base_cases)
RAW = _cases(corpus.load_quickwit_raw_cases)


def _static_fields(ts_map):
    return {idx: {"@time": f} for idx, f in ts_map.items()}


@pytest.fixture(scope="module")
def rigs(spark):
    docs = corpus.load_resources()
    ts = corpus.TIMESTAMP_FIELDS
    rigs = {}

    qw_stub = QuickwitStub(docs, ts)
    qw = QuickwitSource(qw_stub.url, timestamp_fields=dict(ts))
    qw.static_fields = _static_fields(ts)
    rigs["Quickwit"] = (qw_stub, qw)

    es_stub = ElasticStub(docs, ts)
    es = ElasticsearchSource(es_stub.url, timestamp_fields=dict(ts))
    es.static_fields = _static_fields(ts)
    rigs["Elastic"] = (es_stub, es)

    sp_stub = SplunkStub(docs, ts)
    sp = SplunkSource(sp_stub.url)
    # splunk/mod.rs:1084: every index maps @time to Splunk's _time
    sp.static_fields = {idx: {"@time": "_time"} for idx in ts}
    rigs["Splunk"] = (sp_stub, sp)

    yield rigs
    for stub, _ in rigs.values():
        stub.shutdown()


def _compilers(spark, src):
    push = Compiler(SourceRegistry(spark).register("test", src))
    plain = Compiler(SourceRegistry(spark).register("test", _NoPushSource(src)))
    return push, plain


# ---------------------------------------------------------------------------
# normalization


def _norm_val(v):
    try:
        from pyspark.sql.types import VariantVal
    except ImportError:  # pragma: no cover
        VariantVal = ()
    if isinstance(v, VariantVal):
        # decode the dynamic value to what the user-facing JSON paths
        # (df.toJSON(), the server's SSE) render: a VARIANT array IS
        # the array, not its serialized text. Without this, a
        # variant-vs-typed encoding split between the two arms — e.g.
        # a union whose wire-filtered branch came back EMPTY, so only
        # the engine arm saw a string∪array conflict and lifted to
        # variant — reads as a row diff when the VALUES are identical
        # (r13 fuzz find on test.stack | where not(exists(questionId))
        # | mv-expand tags | union (test.stack_mirror)).
        return _norm_val(json.loads(str(v)))
    if isinstance(v, bool):
        return v
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.isoformat(timespec="seconds")
    if isinstance(v, dict):
        return {k: _norm_val(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        return [_norm_val(x) for x in v]
    return v


def _rows(df) -> list[str]:
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        # normalize BEFORE the null drop so a present-null VARIANT
        # (decodes to None) is dropped exactly like a typed NULL — the
        # two arms may legitimately differ in which encoding carries
        # the null (schema-on-read inference), and this comparator
        # compares values, not encodings
        d = {k: _norm_val(v) for k, v in d.items()}
        d = {k: v for k, v in d.items() if v is not None}
        out.append(json.dumps(d, sort_keys=True, default=str))
    return sorted(out)


def _norm_steps(steps) -> tuple:
    """Comparable plan form: scans by (type, connector, collection) —
    handle-free, like Scan's PartialEq (scan.rs:45) — plus the
    frontend's distinct lowering and the same rewrite passes applied
    to both sides (the expected strings are written post-optimizer, so
    this is a no-op for them everywhere but `distinct`)."""
    out = []
    for s in (steps[:1] + optimize_steps(steps[1:])):
        if isinstance(s, (P.Scan, P.ScanRaw)):
            out.append((type(s).__name__, s.connector, s.collection))
        elif isinstance(s, P.Union):
            out.append(("Union", _norm_steps(s.sub.steps)))
        else:
            out.append(s)
    return tuple(out)


# ---------------------------------------------------------------------------
# the gate


def _run_case(spark, rigs, connector: str, case: corpus.Case):
    stub, src = rigs[connector]

    plan = parse_kql(case.query)

    # 1. steps: pushdown leaves exactly the expected residual
    handle, residual = negotiate_to_fixpoint(
        plan, src.handle(plan.steps[0].collection), src
    )
    expected_plan = parse_kql(case.expected_for(connector))
    assert _norm_steps(residual.steps) == _norm_steps(expected_plan.steps), (
        f"[{case.name}] residual steps after pushdown differ from the "
        f"reference's expected residual {case.expected_for(connector)!r}"
    )

    # 2 + 3. results: pushdown == no-pushdown == expected
    push, plain = _compilers(spark, src)
    push_rows = _rows(push.run(plan))
    plain_rows = _rows(plain.run(parse_kql(case.query)))
    assert push_rows == plain_rows, (
        f"[{case.name}] pushdown results != no-pushdown results"
    )
    if case.count is not None:
        assert len(push_rows) == case.count, (
            f"[{case.name}] row count {len(push_rows)} != expected {case.count}"
        )
    else:
        expected = sorted(
            json.dumps(_norm_val(row), sort_keys=True, default=str)
            for row in case.logs
        )
        assert push_rows == expected, f"[{case.name}] rows != expected logs"


@pytest.mark.parametrize("case", BASE, ids=lambda c: c.name)
@pytest.mark.parametrize("connector", ("Elastic", "Quickwit", "Splunk"))
def test_base_corpus(spark, rigs, connector, case):
    _run_case(spark, rigs, connector, case)


@pytest.mark.parametrize("case", RAW, ids=lambda c: c.name)
def test_quickwit_raw_corpus(spark, rigs, case):
    _run_case(spark, rigs, "Quickwit", case)


# ---------------------------------------------------------------------------
# memory-differential arm: the same query over the same documents
# through the MEMORY path must equal the connector path. The
# pushdown-vs-no-pushdown arm above runs the plan REWRITES in both
# arms (negotiate_to_fixpoint applies them before refusing hooks), so
# a rewrite that changes semantics escapes it — this arm executes with
# no negotiation at all, pinning external == engine for every case.


@pytest.fixture(scope="module")
def mem_compiler(spark):
    from miso_spark.sources import MemorySource

    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    docs = corpus.load_resources()
    mem = MemorySource()
    for cname, rows in docs.items():
        rdd = spark.sparkContext.parallelize([json.dumps(r) for r in rows])
        df = spark.read.json(rdd)
        # type the designated timestamp field like the connector
        # config does (quickwit.rs setup(): stack → rfc3339 strings,
        # hdfs → epoch seconds) — a real lake table has typed times
        tf = corpus.TIMESTAMP_FIELDS.get(cname)
        if tf and tf in df.columns:
            if isinstance(df.schema[tf].dataType, NumericType):
                df = df.withColumn(tf, F.timestamp_seconds(F.col(tf)))
            else:
                df = df.withColumn(tf, F.col(tf).cast("timestamp"))
        mem.put(cname, df)
    mem.static_fields = _static_fields(corpus.TIMESTAMP_FIELDS)
    return Compiler(SourceRegistry(spark).register("test", mem))


_ISO_TS = re.compile(
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$"
)


def _canon_times(row_json: str) -> str:
    """The connector path returns timestamps as the service's strings
    ("...T23:55:37.000Z"); the memory path parses them into Spark
    timestamps rendered differently. Canonicalize ISO-8601-looking
    strings to second precision so the comparison is about VALUES."""
    def canon(v):
        if isinstance(v, str) and _ISO_TS.match(v):
            dt = datetime.datetime.fromisoformat(v.replace("Z", "+00:00"))
            if dt.tzinfo is None:
                # a naive rendering is the same instant as the aware
                # one — never reinterpret it through the machine's
                # local timezone
                dt = dt.replace(tzinfo=datetime.timezone.utc)
            return dt.astimezone(datetime.timezone.utc).isoformat(
                timespec="seconds"
            )
        if isinstance(v, dict):
            return {k: canon(x) for k, x in v.items()}
        if isinstance(v, list):
            return [canon(x) for x in v]
        return v

    return json.dumps(canon(json.loads(row_json)), sort_keys=True)


@pytest.mark.parametrize("case", BASE, ids=lambda c: c.name)
def test_memory_differential(spark, rigs, mem_compiler, case):
    _, src = rigs["Quickwit"]
    push, _ = _compilers(spark, src)
    push_rows = [_canon_times(r) for r in _rows(push.run(parse_kql(case.query)))]
    mem_rows = [_canon_times(r) for r in _rows(mem_compiler.run(parse_kql(case.query)))]
    assert mem_rows == push_rows, (
        f"[{case.name}] memory-path results != connector-path results"
    )


# VARIANT-ingest differential arm: the same corpus through per-row
# DYNAMIC ingest (one VARIANT column per top-level key). The typed
# memory arm above pins rewrite-layer soundness over schema'd columns;
# this arm pins it under the reference's dynamic data model (Val
# total-order, missing-vs-null, per-row typed arithmetic) — a rewrite
# that is only sound for typed columns (e.g. a project substitution
# that assumes a cast) fails here.


@pytest.fixture(scope="module")
def dyn_compiler(spark):
    from pyspark.sql import functions as F

    from miso_spark.dynamic import as_number, as_string, ingest_json_dynamic
    from miso_spark.sources import MemorySource

    docs = corpus.load_resources()
    mem = MemorySource()
    for cname, rows in docs.items():
        df = ingest_json_dynamic(spark, rows)
        # the designated time field is TYPED, like every arm (the
        # reference's connector setups designate a typed time axis;
        # payload stays dynamic): stack → rfc3339 strings, hdfs →
        # epoch seconds
        tf = corpus.TIMESTAMP_FIELDS.get(cname)
        if tf and tf in df.columns:
            sample = next((r[tf] for r in rows if r.get(tf) is not None), None)
            c = F.col(f"`{tf}`")
            typed = (
                F.timestamp_seconds(as_number(c))
                if isinstance(sample, (int, float))
                else F.to_timestamp(as_string(c))
            )
            df = df.withColumn(tf, typed)
        mem.put(cname, df)
    mem.static_fields = _static_fields(corpus.TIMESTAMP_FIELDS)
    return Compiler(SourceRegistry(spark).register("test", mem))


def _dyn_rows(df) -> list[str]:
    """_rows with VARIANT results unwrapped to their JSON values
    (VariantVal → toPython) so the comparison is about VALUES, not the
    column's storage type; a variant null unwraps to None and drops,
    like absent fields drop on the connector path."""
    from pyspark.sql.types import VariantVal

    def unwrap(v):
        if isinstance(v, VariantVal):
            return unwrap(v.toPython())
        if isinstance(v, dict):
            return {k: unwrap(x) for k, x in v.items()}
        if isinstance(v, list):
            return [unwrap(x) for x in v]
        return v

    out = []
    for r in df.collect():
        d = {k: _norm_val(unwrap(v)) for k, v in r.asDict(recursive=True).items()}
        d = {k: v for k, v in d.items() if v is not None}
        out.append(json.dumps(d, sort_keys=True, default=str))
    return sorted(out)


@pytest.mark.parametrize("case", BASE, ids=lambda c: c.name)
def test_dynamic_differential(spark, rigs, dyn_compiler, case):
    _, src = rigs["Quickwit"]
    push, _ = _compilers(spark, src)
    push_rows = [_canon_times(r) for r in _rows(push.run(parse_kql(case.query)))]
    dyn_rows = [
        _canon_times(r) for r in _dyn_rows(dyn_compiler.run(parse_kql(case.query)))
    ]
    assert dyn_rows == push_rows, (
        f"[{case.name}] dynamic-ingest results != connector-path results"
    )


def test_union_summarize_splits_to_one_wire_aggregation(spark, rigs):
    """union | summarize over the same connector compiles to ONE
    multi-index search carrying the partial aggregation (terms agg on
    the wire), with the engine-side merge re-aggregating — and the
    rows equal both the no-pushdown run and the memory path."""
    stub, src = rigs["Quickwit"]
    q = "test.stack | union (test.stack_mirror) | summarize n = count() by type"
    push, plain = _compilers(spark, src)
    before = len(stub.core.search_requests)
    push_rows = _rows(push.run(parse_kql(q)))
    agg_reqs = [
        (idx, b) for idx, b in stub.core.search_requests[before:]
        if b and "aggs" in b
    ]
    assert len(agg_reqs) == 1 and agg_reqs[0][0] == "stack,stack_mirror"
    plain_rows = _rows(plain.run(parse_kql(q)))
    assert push_rows == plain_rows
    # counts double the single-index ones: stack_mirror is a copy
    rows = [json.loads(r) for r in push_rows]
    assert all(r["n"] % 2 == 0 for r in rows)


def test_union_summarize_heterogeneous_branches(spark, rigs):
    """Branches that CANNOT merge into one search (different doc sets,
    one yielding zero agg buckets) still each absorb their partial; the
    engine merge keeps the count's integer type — a residual
    re-optimization once stacked a second partial into the branches,
    summing a missing column into doubles."""
    stub, src = rigs["Quickwit"]
    q = "test.stack | union (test.hdfs) | summarize n = count() by type"
    push, plain = _compilers(spark, src)
    df = push.run(parse_kql(q))
    assert dict(df.dtypes)["n"] == "bigint"
    push_rows = _rows(df)
    assert push_rows == _rows(plain.run(parse_kql(q)))
    rows = {json.loads(r)["type"]: json.loads(r)["n"] for r in push_rows}
    assert rows == {"question": 8, "answer": 2}  # hdfs rows lack type


def test_union_count_splits_to_per_branch_wire_counts(spark, rigs):
    """`union | count` absorbs a count per branch (or one merged count
    query for same-connector unions) and sums engine-side — matching
    the no-pushdown run exactly."""
    stub, src = rigs["Quickwit"]
    q = "test.stack | union (test.hdfs) | count"
    push, plain = _compilers(spark, src)
    push_rows = _rows(push.run(parse_kql(q)))
    assert push_rows == _rows(plain.run(parse_kql(q)))
    assert json.loads(push_rows[0])["Count"] == 20  # 10 stack + 10 hdfs


def test_union_summarize_avg_splits_and_matches(spark, rigs):
    """avg over a union decomposes into per-branch sum+countif
    partials (summarize.rs:9 MUX_AVG suffixes, workflow summarize.rs
    :517 MuxAvg merge) shipped in each branch's wire aggregation, with
    an engine-side merge + divide. Rows must equal the no-pushdown run
    — including the all-missing-group edge (answers lack
    acceptedAnswerId → num 0 → the reference's avg(∅) = 0.0 identity)
    and the missing-branch edge (hdfs docs lack the group key, so the
    branch contributes no groups)."""
    stub, src = rigs["Quickwit"]
    q = (
        "test.stack | union (test.hdfs)"
        " | summarize m = avg(acceptedAnswerId) by type"
    )
    push, plain = _compilers(spark, src)
    before = len(stub.core.search_requests)
    push_rows = _rows(push.run(parse_kql(q)))
    agg_reqs = [
        b for _, b in stub.core.search_requests[before:] if b and "aggs" in b
    ]
    assert agg_reqs, "no aggregation went over the wire"
    flat = json.dumps(agg_reqs)
    assert "m_sum" in flat and "m_num" in flat, flat
    plain_rows = _rows(plain.run(parse_kql(q)))
    assert push_rows == plain_rows
    rows = {json.loads(r)["type"]: json.loads(r)["m"] for r in push_rows}
    assert rows["answer"] == 0.0  # all-missing group: avg(∅) identity
    assert rows["question"] > 0


def test_refused_project_still_narrows_source(spark, rigs):
    """eliminate_unused_fields.rs analog for refused tails: a COMPUTED
    project cannot absorb (apply_project is identity-only,
    quickwit.rs:1277), but the residual only reads two fields — the
    hit fetch must narrow _source_includes to them, with rows equal to
    the no-pushdown run."""
    stub, src = rigs["Quickwit"]
    q = "test.stack | project qid2 = questionId * 2, t = type"
    push, plain = _compilers(spark, src)
    before = len(stub.core.source_includes_seen)
    push_rows = _rows(push.run(parse_kql(q)))
    seen = stub.core.source_includes_seen[before:]
    assert "questionId,type" in seen, seen
    assert push_rows == _rows(plain.run(parse_kql(q)))
    row = json.loads(push_rows[0])
    assert set(row) == {"qid2", "t"}


def test_folded_filters_reach_the_wire(spark, rigs):
    """const_folding parity end-to-end (fold_exprs, r10): the wire
    request is built from the engine's Expr tree before Catalyst can
    fold anything, so the rewrite layer must do it — an OR of
    equalities ships as ONE terms filter, an inverted range as a plain
    range, and a contradictory range never reaches the service."""
    stub, src = rigs["Quickwit"]
    push, plain = _compilers(spark, src)

    # x == a or x == b → terms
    q = "test.stack | where questionId == 4 or questionId == 6"
    before = len(stub.core.search_requests)
    rows = _rows(push.run(parse_kql(q)))
    reqs = json.dumps([b for _, b in stub.core.search_requests[before:]])
    assert '"terms"' in reqs, reqs
    assert rows == _rows(plain.run(parse_kql(q)))
    assert len(rows) == 3  # questionId 4 twice, 6 once

    # not(x > n) → an lte range: the comparison INVERSION folded (no
    # must_not around a gt range). The lte itself rides in the
    # total-order OR-missing shape (should [range, must_not exists] —
    # r11, null/missing bases survive <=), so assert the absence of a
    # must_not'd RANGE specifically
    q2 = "test.stack | where not(questionId > 9)"
    before = len(stub.core.search_requests)
    rows2 = _rows(push.run(parse_kql(q2)))
    reqs2 = json.dumps([b for _, b in stub.core.search_requests[before:]])
    assert '"lte"' in reqs2 and '"gt"' not in reqs2, reqs2
    assert '"must_not": {"range"' not in reqs2, reqs2
    assert rows2 == _rows(plain.run(parse_kql(q2)))
    assert len(rows2) == 4  # questionIds 4, 4, 6, 9

    # contradictory range folds to false before negotiation — the
    # residual filter is `where false`; rows must still be correct
    q3 = "test.stack | where questionId > 5 and questionId < 3"
    rows3 = _rows(push.run(parse_kql(q3)))
    assert rows3 == [] == _rows(plain.run(parse_kql(q3)))


def test_wire_savings_gauge_join_push(spark, rigs):
    """r10's push_filter_into_join / push_project_into_join exist to
    cut wire volume; this pins the cut (r10 verdict #5). For
    ``a | join (b | project ...) on k | where b_field > n`` the right
    side's wire request must carry the filter, so the pushed run
    fetches strictly fewer hit documents than the refuse-all run —
    with identical results."""
    stub, src = rigs["Quickwit"]
    push, plain = _compilers(spark, src)
    q = (
        "test.stack | join kind=inner"
        " (test.stack_mirror | project questionId, aid = answerId)"
        " on questionId | where aid > 5"
    )
    d0 = src.docs_fetched
    push_rows = _rows(push.run(parse_kql(q)))
    push_docs = src.docs_fetched - d0
    d0 = src.docs_fetched
    plain_rows = _rows(plain.run(parse_kql(q)))
    plain_docs = src.docs_fetched - d0
    assert push_rows == plain_rows
    assert push_rows  # non-degenerate: the join matched something
    assert push_docs < plain_docs, (push_docs, plain_docs)


def test_wire_savings_gauge_refused_tail_narrowing(spark, rigs):
    """The r10 used-field narrowing (refused computed-project tail →
    _source_includes) must shrink the bytes actually downloaded, not
    just the request shape (r10 verdict #5): the pushed run downloads
    fewer response bytes than the refuse-all full-width fetch for the
    same rows."""
    stub, src = rigs["Quickwit"]
    push, plain = _compilers(spark, src)
    q = "test.stack | project qid2 = questionId * 2, t = type"
    b0 = src.bytes_downloaded
    push_rows = _rows(push.run(parse_kql(q)))
    push_bytes = src.bytes_downloaded - b0
    b0 = src.bytes_downloaded
    plain_rows = _rows(plain.run(parse_kql(q)))
    plain_bytes = src.bytes_downloaded - b0
    assert push_rows == plain_rows
    assert push_bytes < plain_bytes, (push_bytes, plain_bytes)


def test_dcount_union_split_stays_engine_side_on_wire_paths(spark, rigs):
    """r11 dcount union split: the keep_null_keys partial must NEVER
    absorb into a wire aggregation (terms/stats-by drop missing group
    keys service-side — exactly the bucket the variant exists to
    keep). On the negotiation path can_absorb therefore refuses the
    split: the post-union summarize either stays engine-side whole or
    — as here — the union run merges into ONE multi-index search and
    apply_summarize absorbs the whole aggregation (the reference's
    own shape); in neither case does a keep-null partial reach a
    handle, and results equal the no-pushdown run."""
    stub, src = rigs["Quickwit"]
    push, plain = _compilers(spark, src)
    q = (
        "test.stack | union (test.stack_mirror)"
        " | summarize d = dcount(acceptedAnswerId), n = count() by type"
    )
    plan = parse_kql(q)
    handle, residual = negotiate_to_fixpoint(
        plan, src.handle(plan.steps[0].collection), src
    )
    assert not any(
        isinstance(s, P.SummarizeStep) and s.keep_null_keys
        for s in residual.steps
    ), residual.steps
    # the multi-index merge + wire aggregation absorbed everything
    assert [type(s).__name__ for s in residual.steps] == ["Scan"], residual.steps
    push_rows = _rows(push.run(plan))
    assert push_rows == _rows(plain.run(parse_kql(q)))
    assert push_rows  # non-degenerate


@pytest.mark.parametrize("connector", ("Elastic", "Quickwit", "Splunk"))
def test_dcount_missing_field_pushdown_equals_engine(spark, rigs, connector):
    """Wire distinct-counts (cardinality / dc) SKIP docs whose field
    is missing — and so does the engine-side dcount over wire frames
    (compiler._wire_field_null_missing tags schema-on-read NULLs as
    absent keys; summarize.rs:567-578 skips missing args). Both arms
    therefore agree on d = 0 for a field absent from EVERY doc of a
    group (acceptedAnswerId exists only on question docs) — the r11
    "+1 null-bucket companion" era pinned d = 1 here, which emulated
    the retired typed-ingest conflation."""
    stub, src = rigs[connector]
    push, plain = _compilers(spark, src)
    q = "test.stack | summarize d = dcount(acceptedAnswerId), n = count() by type"
    push_rows = _rows(push.run(parse_kql(q)))
    plain_rows = _rows(plain.run(parse_kql(q)))
    assert push_rows == plain_rows, (connector, push_rows, plain_rows)
    by_type = {json.loads(r)["type"]: json.loads(r) for r in push_rows}
    # answer docs never carry acceptedAnswerId → every arg is missing
    # → the accumulator never admits a value (reference-correct d = 0)
    assert by_type["answer"]["d"] == 0, by_type
    # question docs all carry it → a real distinct count
    assert by_type["question"]["d"] > 0, by_type


@pytest.mark.parametrize("connector", ("Elastic", "Quickwit", "Splunk"))
def test_dcount_filtered_schema_inference_symmetry(spark, rigs, connector):
    """r13 guarded-re-hunt find, pinned: `where exists(f) | mv-expand
    | summarize dcount(g)` where the FILTERED docs never carry g. The
    pushdown arm's wire-filtered fetch infers NO g column at all
    (provably-missing → dcount 0); the engine arm's unfiltered fetch
    infers g, leaving an all-null TYPED column post-filter — which
    must ALSO read 0 because wire-frame NULLs are tagged absent-key
    (WIRE_NULL_IS_MISSING_MD survives filter/expand; summarize.rs:
    567-578 skips missing args). Both arms d = 0, no null bucket."""
    stub, src = rigs[connector]
    push, plain = _compilers(spark, src)
    q = (
        "test.stack | where exists(acceptedAnswerId) | mv-expand tags"
        " | mv-expand tags | summarize dc = dcount(answerId) by questionId"
    )
    push_rows = _rows(push.run(parse_kql(q)))
    plain_rows = _rows(plain.run(parse_kql(q)))
    assert push_rows == plain_rows, (connector, push_rows, plain_rows)
    for r in push_rows:
        assert json.loads(r)["dc"] == 0, push_rows
