#!/usr/bin/env python3
"""End-to-end benchmark of the miso_spark KQL server and corpus operators.

    python3 perfbench/run.py --workload interactive_search --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10
    python3 perfbench/run.py --smoke

Run from the repository root. Each run launches the program under test
as its own process (perfbench/worker.py), drives it from this process,
checks every answer against DuckDB, and prints a human-readable report
line and then, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a separate traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

from layers import LAYER_METRICS, UNMEASURED, per_layer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("interactive_search", "bulk_export", "ingest_search", "corpus_dedup")

#: printed on the result line with --trace 0: defined, and never 0, on
#: every workload
E2E_METRICS = {
    "setup_s": "s",
    "latency_gmean_ms": "ms",
    "throughput_qps": "1/s",
    "peak_rss_mb": "MB",
}
#: printed on the report line only: a workload that has no such
#: operation shows null
REPORT_METRICS = {
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "ttfr_p50_ms": "ms",
    "rows_per_s": "1/s",
    "write_p50_ms": "ms",
    "read_after_write_p50_ms": "ms",
    "batch_pass_p50_ms": "ms",
    "stream_drain_s": "s",
    "error_rate": "ratio",
}


@dataclass(frozen=True)
class Settings:
    server_sf: str
    corpus_sf: str
    #: launches per run whose set-up time is measured (the last one stays
    #: up and serves the workload); setup_s is their median
    setup_repeats: int
    #: server warm-up runs in blocks this long for at least
    #: warmup_min_s, then until a block's median latency settles, or
    #: until warmup_max_s
    warm_block_s: float
    warmup_min_s: float
    warmup_max_s: float


TIMED = Settings(server_sf="sf0.1", corpus_sf="sf0.01", setup_repeats=2,
                 warm_block_s=1.5, warmup_min_s=8.0, warmup_max_s=10.0)
SMOKE = Settings(server_sf="sf0.001", corpus_sf="sf0.001", setup_repeats=1,
                 warm_block_s=0.5, warmup_min_s=0.5, warmup_max_s=1.0)
SMOKE_SECONDS = 2
#: the worker's JVM heap, fixed in size (-Xms = -Xmx) and pre-touched:
#: peak memory then follows what the program holds beside the heap, not
#: when the JVM chose to grow it or how much of it a short run touched,
#: and the benchmark stays small on a shared host
DRIVER_MEM = "2g"
NPROC = len(os.sched_getaffinity(0))


class BenchError(Exception):
    """The benchmark could not run (as opposed to a wrong answer)."""


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# -- host record ----------------------------------------------------------

def host_record(seed: int) -> dict:
    from importlib.metadata import version

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = r.stdout.strip() or None
    return {
        "nproc": NPROC,
        "loadavg_start": os.getloadavg(),
        "python": sys.version.split()[0],
        "pyspark": version("pyspark"),
        "duckdb": version("duckdb"),
        "commit": commit,
        "seed": seed,
    }


# -- processes ------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, process group, state) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[2]), fields[0])
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants, as the sum of
    their proportional set sizes: a page the processes share (forked
    Python workers share most of theirs) counts once, not once per
    process as summed RSS would."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in _proc_table().items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(children.get(pid, ()))
    return total


def group_alive(pgid: int) -> bool:
    return any(g == pgid and st != "Z" for _, g, st in _proc_table().values())


class Worker:
    """One launch of perfbench/worker.py, in its own process group."""

    START_TIMEOUT_S = 60
    CALL_TIMEOUT_S = 90

    def __init__(self, mode: str, tmp: str, trace: bool):
        self.t_launch = time.perf_counter()
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT,
            "SPARK_GRAFT_CPUS": str(NPROC),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false"
                f" --conf spark.driver.extraJavaOptions='-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch'"
                f" --conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"
                " pyspark-shell"
            ),
        })
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), mode]
        if trace:
            cmd.append("--trace")
        self._log = open(os.path.join(tmp, f"worker-{mode}.log"), "ab")
        self.proc = subprocess.Popen(
            cmd, cwd=tmp, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, start_new_session=True, text=True, bufsize=1,
        )
        self._replies: list[dict] = []
        self._cv = threading.Condition()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()
        self.peak_rss = 0
        self._sampling = threading.Event()
        self._sampler: threading.Thread | None = None
        try:
            self.ready = self._next(self.START_TIMEOUT_S)
        except BaseException:
            self.close(kill=True)
            raise

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                with self._cv:
                    self._replies.append(json.loads(line[len("PERFBENCH "):]))
                    self._cv.notify_all()
        with self._cv:
            self._replies.append({"error": "worker exited"})
            self._cv.notify_all()

    def _next(self, timeout: float) -> dict:
        with self._cv:
            if not self._cv.wait_for(lambda: self._replies, timeout):
                raise BenchError(f"worker silent for {timeout}s")
            rep = self._replies.pop(0)
        if "error" in rep:
            raise BenchError(f"worker: {rep['error']}")
        return rep

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._next(self.CALL_TIMEOUT_S)

    def start_rss_sampling(self, period_s: float = 0.5) -> None:
        def sample() -> None:
            while not self._sampling.wait(period_s):
                self.peak_rss = max(self.peak_rss, tree_memory_bytes(self.proc.pid))

        self._sampler = threading.Thread(target=sample, daemon=True)
        self._sampler.start()

    def close(self, kill: bool = False) -> None:
        """Stop the worker and every process it started: by its exit
        command (a clean Spark shutdown), or with ``kill`` by SIGKILL to
        its process group. Returns once no process of the group is left."""
        self._sampling.set()
        if self._sampler is not None:
            self._sampler.join()
        pgid = self.proc.pid
        try:
            if kill:
                os.killpg(pgid, 9)
            elif self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"cmd": "exit"}) + "\n")
                self.proc.stdin.flush()
            self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            pass
        for sig in (15, 9):
            deadline = time.monotonic() + 10
            while group_alive(pgid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if not group_alive(pgid):
                break
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self._reader.join(timeout=5)
        self.proc.stdin.close()
        self.proc.stdout.close()
        self._log.close()


def data_root() -> str:
    """The directory holding the sf* test data: $PERFBENCH_DATA_ROOT, or
    else the one the legacy bench.py reads its sf0.1 tables from."""
    from bench import SF_DIR

    return os.environ.get("PERFBENCH_DATA_ROOT", os.path.dirname(SF_DIR))


def launch(workload: str, sf_dir: str, tmp: str, trace: bool) -> tuple[Worker, float]:
    """Launch the process under test and make it ready for the first
    operation; return it and the seconds that took."""
    if workload == "corpus_dedup":
        w = Worker("corpus", tmp, trace)
        return w, time.perf_counter() - w.t_launch
    from client import http_json

    w = Worker("server", tmp, trace)
    port = w.ready["port"]
    try:
        while http_json(port, "GET", "/health")[0] != 200:
            time.sleep(0.05)
        connectors = {"t": sf_dir}
        if workload == "ingest_search":
            connectors["sink"] = os.path.join(tmp, "sink")
            os.makedirs(connectors["sink"], exist_ok=True)
        for name, path in connectors.items():
            code, body = http_json(
                port, "POST", f"/connectors/{name}", {"type": "parquet_dir", "path": path}
            )
            if code != 200:
                raise BenchError(f"registering connector {name}: {code} {body}")
    except BaseException:
        w.close()
        raise
    return w, time.perf_counter() - w.t_launch


# -- one workload ---------------------------------------------------------

def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 settings: Settings) -> dict:
    import client

    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    tmp = os.path.join(STATE_DIR, f"tmp-{os.getpid()}-{tag}")
    out_dir = os.path.join(STATE_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir, f"{tag}-spans.json")
    host = host_record(seed)
    sf_dir = os.path.join(data_root(), settings.server_sf)
    corpus_sf_dir = os.path.join(data_root(), settings.corpus_sf)
    worker = None
    try:
        setups = []
        for i in range(settings.setup_repeats):
            w, s = launch(workload, sf_dir, os.path.join(tmp, f"launch{i}"), trace)
            setups.append(s)
            log(f"{workload}: set-up {i + 1}/{settings.setup_repeats} took {s:.2f}s")
            if i + 1 < settings.setup_repeats:
                # a set-up probe did no work: nothing to shut down cleanly
                w.close(kill=True)
            else:
                worker = w
        worker.start_rss_sampling()
        ctx = client.RunContext(
            workload=workload, seed=seed, seconds=seconds, trace=trace,
            worker=worker, tmp=tmp, settings=settings,
            sf_dir=sf_dir, corpus_sf_dir=corpus_sf_dir,
        )
        measured = client.run(ctx)
        log(f"{workload}: ran " + ", ".join(f"{n} {p}" for p, n in measured.counts().items()))
        # after the workload, so the first-job costs of a fresh JVM fall
        # in the warm-up rather than add to the run
        host["calibration_s"] = worker.call(cmd="calibrate")["calib_s"]
        log(f"{workload}: calibration job {host['calibration_s']:.3f}s")
        if trace:
            worker.call(cmd="trace_dump", out=spans_path)
        worker.close()
        peak_rss = worker.peak_rss
        worker = None
        checks = client.check(ctx, measured)
        log(f"{workload}: {checks['failed']} of {checks['attempted']} operations failed their checks")
        if trace:
            with open(spans_path) as f:
                layer = per_layer(json.load(f), measured, workload)
    finally:
        if worker is not None:
            worker.close()
        shutil.rmtree(tmp, ignore_errors=True)
    host["loadavg_end"] = os.getloadavg()

    e2e = client.end_to_end(measured, checks, client.CLIENTS.get(workload, 1))
    e2e["setup_s"] = statistics.median(setups)
    e2e["peak_rss_mb"] = peak_rss / 2**20
    report = {
        "workload": workload, "host": host, "setup_s_each": setups,
        "end_to_end": {k: {"value": e2e.get(k), "unit": u}
                       for k, u in (E2E_METRICS | REPORT_METRICS).items()},
        "ops": measured.counts(),
        "latency_by_kind": client.by_kind(measured),
        "failures": checks["failures"][:20],
        "unmeasured_layers": UNMEASURED,
    }
    if trace:
        metrics, units = layer, LAYER_METRICS
        report["per_layer"] = layer
        report["span_dump"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics, units = {k: e2e[k] for k in E2E_METRICS}, E2E_METRICS
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return {
        "correct": checks["failed"] == 0,
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        "report": report,
    }


def print_result(res: dict) -> None:
    print("report " + json.dumps(res["report"], default=str), flush=True)


# -- smoke ----------------------------------------------------------------

def smoke() -> int:
    """Every workload, untraced and traced, on the smallest data for a
    few seconds; asserts the metric names match BENCHMARK.json, every
    oracle check passes and every span dump parses."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        False: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        True: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    attempted = failed = 0
    for workload in WORKLOADS:
        for trace in (False, True):
            res = run_workload(workload, 1, SMOKE_SECONDS, trace, SMOKE)
            print_result(res)
            attempted += res["attempted"]
            failed += res["failed"]
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{workload} trace={trace}: metrics {got} != BENCHMARK.json {want[trace]}")
            if res["failed"]:
                problems.append(f"{workload} trace={trace}: {res['failed']} failed checks: {res['report']['failures'][:3]}")
            if trace:
                with open(os.path.join(ROOT, res["report"]["span_dump"])) as f:
                    dump = json.load(f)
                if not dump["spans"] or not all(
                    {"id", "rid", "name", "parent", "start", "end"} <= set(s)
                    for s in dump["spans"]
                ):
                    problems.append(f"{workload}: span dump has no well-formed spans")
    for p in problems:
        log(f"SMOKE FAIL: {p}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": {}}))
    return 1 if problems else 0


def main() -> int:
    # SIGTERM unwinds like Ctrl-C, so every worker still gets stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "miso_spark")):
        log(f"no miso_spark package under {ROOT}: run from a full checkout")
        return 2
    if not os.path.isdir(os.path.join(data_root(), TIMED.server_sf)):
        log(f"test data not found under {data_root()}")
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload != "all":
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), TIMED)
        print_result(res)
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for workload in WORKLOADS:
        res = run_workload(workload, args.seed, args.seconds, bool(args.trace), TIMED)
        print_result(res)
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{workload}.{k}"] = v
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(3)
