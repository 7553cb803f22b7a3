"""Load generation: closed-loop HTTP/SSE clients for the server
workloads, the corpus passes, warm-up, and the oracle checks."""

from __future__ import annotations

import http.client
import itertools
import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import queries
from oracle import Oracle, compare, json_rows
from tracing import REQUEST_HEADER

HTTP_TIMEOUT_S = 60
#: warm-up ends when a block's median latency is within this share of
#: the previous block's
WARM_TOLERANCE = 0.05
#: parquet files the streaming drain reads, two per trigger
STREAM_FILES = 4
#: a traced run's blocks, in order: the same process and mix with
#: tracing on, then off. The traced block comes right after the warm-up,
#: where an untraced run measures, so the per-layer numbers describe the
#: state the end-to-end numbers do; a warm-up still in progress makes
#: the "off" block a little faster and the overhead a little larger.
TRACE_BLOCKS = ("trace_on", "trace_off")
#: concurrent closed-loop clients per server workload
CLIENTS = {"interactive_search": 2, "bulk_export": 1, "ingest_search": 1}


def http_json(port: int, method: str, path: str, body: dict | None = None) -> tuple[int, str]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HTTP_TIMEOUT_S)
    try:
        data = json.dumps(body).encode() if body is not None else None
        conn.request(method, path, data, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read().decode()
    finally:
        conn.close()


@dataclass
class Request:
    """One POST /query and its SSE reply."""

    op: queries.Op
    rid: str
    latency_s: float = 0.0
    ttfr_s: float | None = None
    frames: list[bytes] = field(default_factory=list)
    row_bytes: int = 0
    error: str | None = None


def sse_query(port: int, op: queries.Op, rid: str) -> Request:
    """Send ``op`` and read the whole event stream. Latency runs from the
    send until the stream ends after ``event: done``; time to first row
    until the first ``data:`` frame arrives."""
    req = Request(op, rid)
    body = json.dumps({"query": op.kql, "query_id": rid}).encode()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HTTP_TIMEOUT_S)
    buf = bytearray()
    t0 = time.perf_counter()
    try:
        conn.request("POST", "/query", body,
                     {"Content-Type": "application/json", REQUEST_HEADER: rid})
        resp = conn.getresponse()
        status = resp.status
        while True:
            chunk = resp.read1(1 << 16)
            if not chunk:
                break
            if req.ttfr_s is None and b"data:" in chunk:
                req.ttfr_s = time.perf_counter() - t0
            buf += chunk
        req.latency_s = time.perf_counter() - t0
    except (OSError, http.client.HTTPException) as e:
        req.latency_s = time.perf_counter() - t0
        req.error = f"{type(e).__name__}: {e}"
        return req
    finally:
        conn.close()
    if status != 200:
        req.error = f"HTTP {status}: {bytes(buf[:300]).decode(errors='replace')}"
        return req
    done = False
    for frame in bytes(buf).split(b"\n\n"):
        if frame.startswith(b"data: "):
            req.frames.append(frame[6:])
            req.row_bytes += len(frame) + 2
        elif frame.startswith(b"event: error"):
            req.error = "error frame: " + frame.decode(errors="replace")[:300]
        elif frame.startswith(b"event: done"):
            done = True
    if req.error is None and not done:
        req.error = "stream ended without event: done"
    return req


@dataclass
class Operation:
    """One unit of closed-loop work: a query, a write + read-back cycle,
    or a corpus pass. Its latency is the sum of its parts'."""

    phase: str
    kind: str
    requests: list[Request] = field(default_factory=list)
    latency_s: float = 0.0
    end: float = 0.0
    #: corpus: the worker's replies and result files for the batch pass
    #: and the drain
    reply: dict | None = None
    out: str | None = None
    drain: dict | None = None
    pairs_out: str | None = None

    @property
    def rows(self) -> int:
        if self.reply is not None:
            return sum(s["rows"] for s in self.reply["stages"].values())
        return sum(len(r.frames) for r in self.requests)


@dataclass
class RunContext:
    workload: str
    seed: int
    seconds: float
    trace: bool
    worker: object
    tmp: str
    settings: object
    sf_dir: str
    corpus_sf_dir: str


@dataclass
class Measured:
    ops: list[Operation] = field(default_factory=list)
    #: phase -> wall seconds it ran
    windows: dict[str, float] = field(default_factory=dict)

    @property
    def timed_phase(self) -> str:
        """The phase the end-to-end metrics read: the measurement, or in
        a traced run the blocks with tracing off."""
        return "measure" if "measure" in self.windows else "trace_off"

    def counts(self) -> dict[str, int]:
        """Operations per phase, in the order the phases ran."""
        out: dict[str, int] = {}
        for o in self.ops:
            out[o.phase] = out.get(o.phase, 0) + 1
        return out


# -- server workloads -----------------------------------------------------

class ServerLoad:
    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.port = ctx.worker.ready["port"]
        self._ids = itertools.count()
        self._lock = threading.Lock()
        if ctx.workload == "interactive_search":
            self.deck = queries.interactive_deck(ctx.seed)
        elif ctx.workload == "bulk_export":
            self.deck = queries.bulk_deck(ctx.seed)
        else:
            self.deck = None
            self._rng = random.Random(ctx.seed)

    def _rid(self) -> str:
        return f"s{self.ctx.seed}-{next(self._ids)}"

    def one(self, phase: str, end_of_deck: bool) -> Operation | None:
        if self.deck is not None:
            op = self.deck.next(end_of_deck)
            if op is None:
                return None
            req = sse_query(self.port, op, self._rid())
            return Operation(phase, op.kind, [req], req.latency_s)
        if end_of_deck:
            return None
        with self._lock:
            i = next(self._ids)
            write, read = queries.ingest_cycle(self._rng, i)
        w = sse_query(self.port, write, f"s{self.ctx.seed}-w{i}")
        # the read-back only makes sense once the write succeeded
        reqs = [w] if w.error else [w, sse_query(self.port, read, f"s{self.ctx.seed}-r{i}")]
        return Operation(phase, "cycle", reqs, sum(r.latency_s for r in reqs))

    def loop(self, phase: str, duration: float, whole_decks: bool = False
             ) -> tuple[list[Operation], float]:
        """Closed loop: each client sends its next operation when the
        previous one completes. Clients stop starting work at the
        deadline, or with ``whole_decks`` once the deck in play at the
        deadline is dealt, so every measured window holds whole decks,
        and finish what is in flight."""
        ops: list[Operation] = []
        if whole_decks and self.deck is not None:
            self.deck.restart()
        start = time.perf_counter()
        deadline = start + duration

        def client() -> None:
            while True:
                late = time.perf_counter() >= deadline
                if late and not whole_decks:
                    break
                op = self.one(phase, end_of_deck=late)
                if op is None:
                    break
                op.end = time.perf_counter()
                ops.append(op)

        threads = [threading.Thread(target=client) for _ in range(CLIENTS[self.ctx.workload])]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops, max([start] + [o.end for o in ops]) - start


def warm_up(ctx: RunContext, block) -> list[Operation]:
    """Run warm-up blocks for at least the minimum time, then until the
    median latency of a block moves less than the tolerance from the
    previous block's, or the cap is hit. The minimum keeps a lucky pair
    of blocks from ending the warm-up while the JIT is still cold."""
    ops: list[Operation] = []
    prev = None
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.settings.warmup_max_s:
        got = block()
        ops.extend(got)
        med = statistics.median(o.latency_s for o in got) if got else None
        settled = prev is not None and med is not None and abs(med - prev) <= WARM_TOLERANCE * prev
        if settled and time.perf_counter() - start >= ctx.settings.warmup_min_s:
            break
        prev = med
    return ops


def run_server(ctx: RunContext) -> Measured:
    load = ServerLoad(ctx)
    m = Measured()
    m.ops += warm_up(ctx, lambda: load.loop("warm", ctx.settings.warm_block_s)[0])
    if not ctx.trace:
        ops, m.windows["measure"] = load.loop("measure", ctx.seconds, whole_decks=True)
        m.ops += ops
        return m
    for phase in TRACE_BLOCKS:
        ctx.worker.call(cmd="trace", on=phase == "trace_on")
        ops, w = load.loop(phase, ctx.seconds / len(TRACE_BLOCKS), whole_decks=True)
        m.ops += ops
        m.windows[phase] = m.windows.get(phase, 0.0) + w
    ctx.worker.call(cmd="trace", on=False)
    return m


# -- corpus workload ------------------------------------------------------

def write_documents(ctx: RunContext, dest: str, files: int) -> None:
    """The documents in an order shuffled by the seed, as ``files``
    parquet files: the arrival order the streaming drain sees."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(ctx.corpus_sf_dir, "documents.parquet"))
    order = list(range(table.num_rows))
    random.Random(ctx.seed).shuffle(order)
    os.makedirs(dest, exist_ok=True)
    per = -(-len(order) // files)
    for i in range(files):
        pq.write_table(table.take(order[i * per:(i + 1) * per]),
                       os.path.join(dest, f"part-{i:03d}.parquet"))


def run_corpus(ctx: RunContext) -> Measured:
    """One operation is a batch pass followed by a streaming drain, both
    over the whole corpus. The warm-up is one such operation: it pays the
    first-use costs (JIT, class loading, Python workers) on the same code
    paths and data sizes as the operations measured after it."""
    m = Measured()
    w = ctx.worker
    n = itertools.count()
    stream_in = os.path.join(ctx.tmp, "stream-in")
    write_documents(ctx, stream_in, STREAM_FILES)

    def corpus_op(phase: str) -> Operation:
        i = next(n)
        out = os.path.join(ctx.tmp, f"pass-{i}.json")
        rep = w.call(cmd="pass", rid=f"p{i}", sf_dir=ctx.corpus_sf_dir, out=out)
        pairs_out = os.path.join(ctx.tmp, f"pairs-{i}.json")
        drain = w.call(cmd="drain", in_dir=stream_in, out=pairs_out,
                       ckpt_dir=os.path.join(ctx.tmp, f"ckpt-{i}"))
        op = Operation(phase, "corpus", latency_s=rep["latency_s"] + drain["drain_s"],
                       reply=rep, out=out, drain=drain, pairs_out=pairs_out)
        m.ops.append(op)
        return op

    corpus_op("warm")
    if ctx.trace:
        for phase in TRACE_BLOCKS:
            w.call(cmd="trace", on=phase == "trace_on")
            op = corpus_op(phase)
            m.windows[phase] = m.windows.get(phase, 0.0) + op.latency_s
        w.call(cmd="trace", on=False)
        return m
    start = time.perf_counter()
    last = corpus_op("measure")
    # start another operation only while it would fit in the window
    while time.perf_counter() - start + last.latency_s <= ctx.seconds:
        last = corpus_op("measure")
    m.windows["measure"] = sum(o.latency_s for o in m.ops if o.phase == "measure")
    return m


def run(ctx: RunContext) -> Measured:
    if ctx.workload == "corpus_dedup":
        return run_corpus(ctx)
    return run_server(ctx)


# -- oracle checks --------------------------------------------------------

def _check_request(oracle: Oracle, req: Request) -> str | None:
    if req.error:
        return req.error
    want_cols, want_rows = oracle.query(req.op.sql)
    cols, rows = json_rows(req.frames, want_cols)
    return compare(cols, rows, want_cols, want_rows, req.op.rounding)


def _check_pass(oracle: Oracle, out: str) -> str | None:
    from miso_spark.catalog import CATALOG

    with open(out) as f:
        got = json.load(f)
    for name, res in got.items():
        want_cols, want_rows = oracle.query(CATALOG[name].oracle)
        why = compare(res["cols"], [tuple(r) for r in res["rows"]], want_cols, want_rows)
        if why:
            return f"{name}: {why}"
    return None


def _check_drain(oracle: Oracle, out: str, threshold: float) -> str | None:
    with open(out) as f:
        pairs = json.load(f)
    if not pairs:
        return "the stream emitted no pairs"
    ids = {r[0] for r in oracle.query("SELECT doc_id FROM documents")[1]}
    for id_a, id_b, est, _band in pairs:
        if est < threshold:
            return f"pair ({id_a}, {id_b}) has est_jaccard {est} < {threshold}"
        if id_a not in ids or id_b not in ids:
            return f"pair ({id_a}, {id_b}) names a document that does not exist"
    return None


def check(ctx: RunContext, m: Measured) -> dict:
    """Check every operation against DuckDB; a wrong answer, an error
    reply or frame, or an empty stream counts as failed."""
    from worker import STREAM_THRESHOLD

    oracles: dict[str, Oracle] = {}

    def oracle(sf_dir: str) -> Oracle:
        if sf_dir not in oracles:
            oracles[sf_dir] = Oracle(sf_dir, ctx.tmp)
        return oracles[sf_dir]

    failures = []
    try:
        for op in m.ops:
            if op.kind == "corpus":
                corpus = oracle(ctx.corpus_sf_dir)
                why = (_check_pass(corpus, op.out)
                       or _check_drain(corpus, op.pairs_out, STREAM_THRESHOLD))
            else:
                why = None
                for req in op.requests:
                    why = _check_request(oracle(ctx.sf_dir), req)
                    if why:
                        why = f"{req.op.kind} {req.op.kql!r}: {why}"
                        break
            if why:
                failures.append(why[:500])
    finally:
        for o in oracles.values():
            o.close()
    return {"attempted": len(m.ops), "failed": len(failures), "failures": failures}


# -- end-to-end metrics ---------------------------------------------------

def end_to_end(m: Measured, checks: dict, clients: int) -> dict:
    phase = m.timed_phase
    ops = [o for o in m.ops if o.phase == phase]
    window = m.windows[phase]
    lat = [o.latency_s * 1e3 for o in ops]
    reqs = [o.requests for o in ops if o.requests]
    ttfr = [r[0].ttfr_s * 1e3 for r in reqs if r[0].ttfr_s is not None]
    writes = [r[0].latency_s * 1e3 for r in reqs if r[0].op.kind == "write"]
    reads = [r[1].latency_s * 1e3 for r in reqs if len(r) > 1]
    drains = [o.drain["drain_s"] for o in ops if o.drain]
    passes = [o.reply["latency_s"] * 1e3 for o in ops if o.reply]

    def med(v):
        return statistics.median(v) if v else None

    return {
        # the mean that TPC-H's power metric uses for a mix of unlike
        # queries: every operation counts, where the median of one deck
        # is the latency of the two or three operations in its middle
        "latency_gmean_ms": statistics.geometric_mean(lat) if lat else None,
        "latency_p50_ms": med(lat),
        "latency_p95_ms": _pct(lat, 0.95),
        # closed loop without think time: clients / mean latency, which
        # a slow last operation in the window does not skew
        "throughput_qps": clients * len(ops) / sum(o.latency_s for o in ops) if ops else None,
        "ttfr_p50_ms": med(ttfr),
        "rows_per_s": sum(o.rows for o in ops) / window if window else None,
        "write_p50_ms": med(writes),
        "read_after_write_p50_ms": med(reads),
        "batch_pass_p50_ms": med(passes),
        "stream_drain_s": med(drains),
        "error_rate": checks["failed"] / checks["attempted"] if checks["attempted"] else None,
    }


def by_kind(m: Measured) -> dict[str, dict]:
    """Count and median latency per query kind, in the timed phase."""
    phase = m.timed_phase
    lat: dict[str, list[float]] = {}
    for o in m.ops:
        if o.phase == phase:
            for r in o.requests:
                lat.setdefault(r.op.kind, []).append(r.latency_s * 1e3)
            if o.reply:
                lat.setdefault("batch_pass", []).append(o.reply["latency_s"] * 1e3)
                lat.setdefault("stream_drain", []).append(o.drain["drain_s"] * 1e3)
    return {k: {"n": len(v), "p50_ms": statistics.median(v)} for k, v in sorted(lat.items())}


def _pct(values: list[float], q: float) -> float | None:
    if not values:
        return None
    s = sorted(values)
    return s[min(len(s) - 1, int(round(q * (len(s) - 1))))]
