"""Per-layer metrics from a traced run's span dump.

Times are medians over the traced operations of each operation's total
in that layer; counts and bytes are means per operation; ratios are
totals over totals. A layer the workload does not reach reads 0.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from tracing import build_group, server_exec_group

LAYER_METRICS = {
    "kql.parse_ms": "ms",
    "sources.table_ms": "ms",
    "sources.table_calls": "count",
    "sources.write_ms": "ms",
    "compiler.build_ms": "ms",
    "compiler.jobs_at_build": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.input_rows_per_result_row": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "server.first_row_ms": "ms",
    "server.deliver_ms": "ms",
    "server.self_ms": "ms",
    "server.bytes_per_row": "bytes",
    "functions.text_quality_ms": "ms",
    "functions.near_dedup_pipeline_build_ms": "ms",
    "functions.near_dedup_pipeline_exec_ms": "ms",
    "functions.decontaminate_ms": "ms",
    "functions.jobs_at_build": "count",
    "functions.dedup_pairs": "count",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.pairs": "count",
    "trace.overhead_pct": "%",
}

#: layers this benchmark cannot reach, and why
UNMEASURED = {
    "rewrite": "miso_spark/rewrite.py runs only for external search connectors"
               " (Quickwit, Elasticsearch, Splunk); none is reachable offline",
    "sources.pushdown": "sources/pushdown.py negotiates only with those same"
                        " external connectors",
}

EXEC_KEYS = ("jobs", "stages", "tasks", "executor_run_ms", "input_rows",
             "shuffle_write_bytes", "spill_bytes")


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1e3


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def _aggregate(per: dict[str, list[float]]) -> dict[str, float]:
    # sources.write_ms has one value per write request, not per request
    return {k: _median(v) if LAYER_METRICS[k] == "ms" else _mean(v) for k, v in per.items()}


def _add_exec(per: dict[str, list[float]], ex: dict[str, float]) -> float:
    """Record one operation's Spark counters; return its input rows."""
    for k in EXEC_KEYS:
        if k != "input_rows":
            per[f"exec.{k}"].append(ex[k])
    return ex["input_rows"]


def _exec(groups: dict, names: list[str]) -> dict[str, float]:
    out = dict.fromkeys(EXEC_KEYS, 0)
    for g in names:
        for k, v in groups.get(g, {}).items():
            out[k] += v
    return out


class Spans:
    def __init__(self, spans: list[dict]):
        self.by_id = {s["id"]: s for s in spans}
        self.by_rid: dict[str, list[dict]] = defaultdict(list)
        for s in spans:
            self.by_rid[s["rid"]].append(s)

    def outer_sources(self, rid: str) -> list[dict]:
        """sources.* spans not nested in another sources.* span."""
        out = []
        for s in self.by_rid[rid]:
            parent = self.by_id.get(s["parent"])
            if s["name"].startswith("sources.") and not (
                parent and parent["name"].startswith("sources.")
            ):
                out.append(s)
        return out

    def total(self, rid: str, name: str) -> float:
        return sum(_ms(s) for s in self.by_rid[rid] if s["name"] == name)


def _server(dump: dict, ops: list, sp: Spans) -> dict[str, float]:
    per: dict[str, list[float]] = defaultdict(list)
    reqs = {r.rid: r for o in ops for r in o.requests}
    rows = bytes_ = input_rows = 0
    for rid, req in reqs.items():
        top = [s for s in sp.by_rid[rid] if s["name"] == "server.request"]
        if not top:
            continue
        top = top[0]
        src = sp.outer_sources(rid)
        table = [s for s in src if s["name"] == "sources.table"]
        writes = [s for s in src if s["name"] == "sources.write"]
        compile_ms = sp.total(rid, "compiler.run")
        plan_ms = sp.total(rid, "catalyst.plan")
        parse_ms = sp.total(rid, "kql.parse")
        deliver = [s for s in sp.by_rid[rid] if s["name"] == "server.deliver"]
        deliver_ms = sum(s.get("inside_s", 0.0) for s in deliver) * 1e3
        per["kql.parse_ms"].append(parse_ms)
        per["sources.table_ms"].append(sum(map(_ms, table)))
        per["sources.table_calls"].append(len(table))
        if writes:
            per["sources.write_ms"].append(sum(map(_ms, writes)))
        per["compiler.build_ms"].append(compile_ms - sum(map(_ms, src)))
        per["compiler.jobs_at_build"].append(
            dump["groups"].get(build_group(rid), {}).get("jobs", 0)
        )
        for phase, ms in dump["phases"].get(rid, {}).items():
            per[f"catalyst.{phase}_ms"].append(ms)
        input_rows += _add_exec(per, _exec(dump["groups"], [server_exec_group(rid)]))
        firsts = [s["first_item"] for s in deliver if s.get("first_item")]
        if firsts:
            per["server.first_row_ms"].append((firsts[0] - top["start"]) * 1e3)
        per["server.deliver_ms"].append(deliver_ms)
        per["server.self_ms"].append(_ms(top) - parse_ms - compile_ms - plan_ms - deliver_ms)
        rows += len(req.frames)
        bytes_ += req.row_bytes
    out = _aggregate(per)
    out["exec.input_rows_per_result_row"] = input_rows / max(1, rows)
    out["server.bytes_per_row"] = bytes_ / max(1, rows)
    return out


def _corpus(dump: dict, ops: list, sp: Spans) -> dict[str, float]:
    from worker import CORPUS_STAGES

    per: dict[str, list[float]] = defaultdict(list)
    input_rows = rows = 0
    for o in ops:
        rid = o.reply["rid"]
        groups = [f"perfbench-{rid}-{s}-{part}" for s in CORPUS_STAGES for part in ("build", "exec")]
        input_rows += _add_exec(per, _exec(dump["groups"], groups))
        rows += o.rows
        table = [s for s in sp.outer_sources(rid) if s["name"] == "sources.table"]
        per["sources.table_ms"].append(sum(map(_ms, table)))
        per["sources.table_calls"].append(len(table))
        per["functions.text_quality_ms"].append(
            sp.total(rid, "functions.text_quality.build") + sp.total(rid, "functions.text_quality.exec")
        )
        per["functions.near_dedup_pipeline_build_ms"].append(sp.total(rid, "functions.near_dedup_pipeline.build"))
        per["functions.near_dedup_pipeline_exec_ms"].append(sp.total(rid, "functions.near_dedup_pipeline.exec"))
        per["functions.decontaminate_ms"].append(
            sp.total(rid, "functions.decontaminate.build") + sp.total(rid, "functions.decontaminate.exec")
        )
        per["functions.jobs_at_build"].append(sum(
            dump["groups"].get(f"perfbench-{rid}-{s}-build", {}).get("jobs", 0) for s in CORPUS_STAGES
        ))
        with open(o.out) as f:
            nd = json.load(f)["near_dedup_pipeline"]
        i, c = nd["cols"].index("id"), nd["cols"].index("canonical_id")
        per["functions.dedup_pairs"].append(sum(1 for r in nd["rows"] if r[i] != r[c]))
        per["streaming.batches"].append(o.drain["batches"])
        per["streaming.batch_ms"].append(_mean(o.drain["batch_ms"]))
        per["streaming.state_rows"].append(o.drain["state_rows"])
        per["streaming.pairs"].append(o.drain["pairs"])
    out = _aggregate(per)
    out["exec.input_rows_per_result_row"] = input_rows / max(1, rows)
    return out


def per_layer(dump: dict, measured, workload: str) -> dict[str, float]:
    sp = Spans(dump["spans"])
    on = [o for o in measured.ops if o.phase == "trace_on"]
    if workload == "corpus_dedup":
        got = _corpus(dump, on, sp)
    else:
        got = _server(dump, on, sp)
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    out.update(got)

    def med(phase: str) -> float:
        return _median([o.latency_s for o in measured.ops if o.phase == phase])

    off = med("trace_off")
    out["trace.overhead_pct"] = (med("trace_on") / off - 1) * 100 if off else 0.0
    return out
