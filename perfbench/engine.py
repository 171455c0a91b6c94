"""One engine process of the benchmark: a CLI-shaped MWAS loop or the
HTTP server. Started by ``run.py`` with a JSON job file; writes a JSON
result file when it ends.

  python perfbench/engine.py JOB.json

Job keys: mode ("cli" | "serve"), spawn_time (epoch s, taken by the
parent just before starting this process), trace (bool), result (path),
eventlog_dir, and per mode:
  cli:   argv (the CLI arguments without --output), out_base, runs (how
         many CLI runs to make, one after another)
  serve: catalog, meta, port_file

The engine is driven only through its public entry points
(``__main__.main(argv, spark=...)``, ``streaming.http_server.make_server``)
and the stage functions they call. With ``trace`` on, the session gets an
uncompressed, non-rolling event log and the stage functions are wrapped
in spans (see spans.py).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer  # noqa: E402


def _eventlog_conf(path: str) -> dict[str, str]:
    os.makedirs(path, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(path),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _pinned_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def _instrument(tracer: Tracer, spark, serve: bool) -> None:
    """Spans around each stage function the entry points call."""
    tracer.wrap("mwas_rfam_spark.sources.readers", "read_input_csv", "sources.read_input_csv")
    tracer.wrap("mwas_rfam_spark.sources.readers", "input_from_rows", "sources.input_from_rows")
    tracer.wrap("mwas_rfam_spark.operators.condense", "condense_metadata",
                "condense.condense_metadata")
    tracer.wrap("mwas_rfam_spark.operators.mwas", "run_mwas", "mwas.run_mwas")

    def sink(fn):
        def traced(results, *args, **kwargs):
            with tracer.span("sinks.plan"):
                results._jdf.queryExecution().executedPlan()
            with tracer.span("sinks.write"):
                return fn(results, *args, **kwargs)

        return traced

    tracer.patch("mwas_rfam_spark.sources.sinks", "write_results_partitioned", sink)
    tracer.patch("mwas_rfam_spark.sources.sinks", "write_results_combined", sink)

    last_request: dict = {}

    def before_release(rec, _args):
        rec["pinned_bytes"] = _pinned_bytes(spark)
        if serve and last_request:
            # the reply's collect runs between serve_request and release
            tracer.add("requests.collect", last_request["end"], rec["start"])

    def after_release(rec, _result):
        if serve and last_request:
            tracer.add("run", last_request["start"], time.time())
            last_request.clear()

    tracer.wrap("mwas_rfam_spark.operators.mwas", "release_mwas_persists", "mwas.release",
                before=before_release, after=after_release)
    if serve:
        def serve_request(fn):
            def traced(*args, **kwargs):
                with tracer.span("requests.serve_request") as rec:
                    out = fn(*args, **kwargs)
                last_request.update(start=rec["start"], end=rec["end"])
                return out

            return traced

        tracer.patch("mwas_rfam_spark.streaming.requests", "serve_request", serve_request)


def _session(job: dict, tracer: Tracer | None):
    from mwas_rfam_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if tracer:
        conf.update(_eventlog_conf(job["eventlog_dir"]))
    with tracer.span("session.get_spark") if tracer else nullcontext():
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    # warm: one job through the scheduler and codegen before "ready"
    spark.range(10_000).selectExpr("sum(id) AS s").collect()
    return spark


def run_cli(job: dict) -> dict:
    tracer = Tracer() if job["trace"] else None
    from mwas_rfam_spark.__main__ import main

    spark = _session(job, tracer)
    if tracer:
        _instrument(tracer, spark, serve=False)
    ready = time.time()
    runs = []
    try:
        for i in range(job["runs"]):
            out = os.path.join(job["out_base"], f"run{i}")
            argv = [*job["argv"], "--output", out]
            t0 = time.perf_counter()
            with tracer.span("run") if tracer else nullcontext():
                rc = main(argv, spark=spark)
            wall = time.perf_counter() - t0
            runs.append({"wall": wall, "out": out, "rc": rc})
        return {
            "setup_s": ready - job["spawn_time"],
            "runs": runs,
            "spans": tracer.spans if tracer else [],
        }
    finally:
        spark.stop()


def run_serve(job: dict) -> dict:
    import signal

    tracer = Tracer() if job["trace"] else None
    # module attribute, looked up after _instrument may have wrapped it
    import mwas_rfam_spark.operators.condense as condense
    from mwas_rfam_spark.streaming.http_server import make_server

    spark = _session(job, tracer)
    if tracer:
        _instrument(tracer, spark, serve=True)
    catalog_df = spark.read.parquet(job["catalog"])
    sets_df, ref_df = condense.condense_metadata(spark.read.parquet(job["meta"]))
    server = make_server(spark, catalog_df, sets_df, ref_df)
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    tmp = job["port_file"] + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(tmp, job["port_file"])
    try:
        while not stop.wait(0.2):
            pass
        server.shutdown()
        thread.join(timeout=30)
        server.server_close()
        return {
            "spans": tracer.spans if tracer else [],
        }
    finally:
        spark.stop()


def main(path: str) -> int:
    with open(path) as f:
        job = json.load(f)
    result = run_cli(job) if job["mode"] == "cli" else run_serve(job)
    tmp = job["result"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, job["result"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
