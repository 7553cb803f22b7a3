"""The process under test: a miso_spark server, or the corpus operators.

    python3 perfbench/worker.py server [--trace]
    python3 perfbench/worker.py corpus [--trace]

It starts a Spark session, prints ``PERFBENCH {"ready": ...}`` on
stdout, then takes one JSON command per line on stdin and answers each
with one ``PERFBENCH {...}`` line. Other stdout lines are not protocol.
In server mode the HTTP server runs in a background thread and the
client registers connectors over HTTP itself.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from contextlib import contextmanager

PREFIX = "PERFBENCH "

#: the corpus pass, in order: catalog entries whose builders call the
#: batch operators of miso_spark.functions
CORPUS_STAGES = ("text_quality", "near_dedup_pipeline", "decontaminate")
#: near_dedup_stream settings of the drain
STREAM_THRESHOLD = 0.5
STREAM_FILES_PER_TRIGGER = 2


def reply(obj: dict) -> None:
    sys.stdout.write(PREFIX + json.dumps(obj) + "\n")
    sys.stdout.flush()


def calibrate(spark) -> float:
    """Seconds for a fixed, shuffle-free, CPU-bound Spark job (median of
    three after one discarded run). It moves with host load, not with
    any code in miso_spark."""
    n = spark.sparkContext.defaultParallelism

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 5_000_000, 1, n).selectExpr("sum(id * 3 + 7) AS s").collect()
        return time.perf_counter() - t0

    once()
    return sorted(once() for _ in range(3))[1]


class CorpusRunner:
    """Calls the batch and streaming corpus operators in-process."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.drains = 0

    @contextmanager
    def _traced(self, rid: str, name: str, part: str):
        """With tracing on: a span and a Spark job group for one part
        (build or exec) of one stage."""
        tr = self.tracer
        if tr is None or not tr.enabled:
            yield
            return
        with tr.span(f"functions.{name}.{part}", rid=rid):
            tr.job_group(f"perfbench-{rid}-{name}-{part}")
            yield

    def _stage(self, rid: str, name: str, sf_dir: str) -> tuple[list, list[tuple], float, float]:
        from miso_spark.catalog import CATALOG

        t0 = time.perf_counter()
        with self._traced(rid, name, "build"):
            df = CATALOG[name](self.spark, sf_dir)
        t1 = time.perf_counter()
        with self._traced(rid, name, "exec"):
            rows = df.collect()
        t2 = time.perf_counter()
        return df.columns, [tuple(r) for r in rows], t1 - t0, t2 - t1

    def batch_pass(self, rid: str, sf_dir: str, out: str) -> dict:
        """The three stages over ``sf_dir``/documents.parquet."""
        timings = {}
        results = {}
        t0 = time.perf_counter()
        for name in CORPUS_STAGES:
            cols, rows, build_s, exec_s = self._stage(rid, name, sf_dir)
            timings[name] = {"build_s": build_s, "exec_s": exec_s, "rows": len(rows)}
            results[name] = {"cols": cols, "rows": rows}
        total = time.perf_counter() - t0
        with open(out, "w") as f:
            json.dump(results, f)
        return {"rid": rid, "latency_s": total, "stages": timings}

    def drain(self, in_dir: str, ckpt_dir: str, out: str) -> dict:
        from miso_spark.streaming.api import near_dedup_stream

        self.drains += 1
        name = f"perfbench_pairs_{self.drains}"
        t0 = time.perf_counter()
        schema = self.spark.read.parquet(in_dir).schema
        sdf = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER)
            .parquet(in_dir)
        )
        q = (
            near_dedup_stream(sdf, threshold=STREAM_THRESHOLD)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        drain_s = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        pairs = [tuple(r) for r in self.spark.table(name).collect()]
        self.spark.catalog.dropTempView(name)
        with open(out, "w") as f:
            json.dump(pairs, f)
        state = progress[-1].get("stateOperators") if progress else None
        return {
            "drain_s": drain_s,
            "batches": len(progress),
            "batch_ms": [p["durationMs"].get("triggerExecution", 0) for p in progress],
            "state_rows": state[0]["numRowsTotal"] if state else 0,
            "pairs": len(pairs),
        }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("server", "corpus"))
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from miso_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.mode}")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)

    srv = None
    corpus = None
    if args.mode == "server":
        from miso_spark.server import MisoServer

        srv = MisoServer(spark, port=0)
        if tracer is not None:
            from tracing import install_server

            install_server(tracer, srv)
        srv.start_background()
        reply({"ready": True, "port": srv.port})
    else:
        if tracer is not None:
            from tracing import install_sources

            install_sources(tracer)
        corpus = CorpusRunner(spark, tracer)
        reply({"ready": True})

    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        try:
            if op == "exit":
                break
            if op == "calibrate":
                reply({"calib_s": calibrate(spark)})
            elif op == "trace":
                # switch tracing on or off; switching off reads Spark's
                # counters for what ran while it was on
                if not cmd["on"]:
                    tracer.collect_groups()
                tracer.enabled = cmd["on"]
                reply({"ok": True})
            elif op == "trace_dump":
                with open(cmd["out"], "w") as f:
                    json.dump(tracer.dump(), f)
                reply({"ok": True})
            elif op == "pass":
                reply(corpus.batch_pass(cmd["rid"], cmd["sf_dir"], cmd["out"]))
            elif op == "drain":
                reply(corpus.drain(cmd["in_dir"], cmd["ckpt_dir"], cmd["out"]))
            else:
                reply({"error": f"unknown command {op!r}"})
        except Exception as e:  # noqa: BLE001 - report and keep serving
            reply({"error": f"{type(e).__name__}: {e}"[:2000]})
    if srv is not None:
        srv.shutdown()
    spark.stop()


if __name__ == "__main__":
    main()
