"""MWAS benchmark: one workload, one seed, one JSON line.

  python3 perfbench/run.py --workload batch_perm --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from --seed under
.perfbench_work/ (removed on exit); the engine sees only those files.
Every engine output is checked against the independent oracle
(oracle.py). The last stdout line is
  {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A detailed report (input shape and counts, every raw
sample, machine stamps) goes to stderr as one JSON line.

Protocol, --trace 0: one fresh engine process. It reports its set-up
time and its first MWAS operation (a CLI run or a request), then repeats
the operation: ``warmups`` untimed repeats, then the timed ones the
medians are taken over. --seconds sets how many are timed: the
workload's ``timed`` count at BENCHMARK.json's run_seconds, scaled by
--seconds / run_seconds and rounded, at least one. So every run of a
workload times the same operations, and a slow machine makes a run
longer, not its sample smaller. The count matters because the engine
JVM's JIT keeps compiling the planner through the first ~8 requests of a
server: over a fixed time a fast process would time more, and later,
requests than a slow one. --trace 1: one untraced and one traced process
(event log + spans), each timing the repeats of --seconds / 2; per-layer
numbers are medians over the traced timed repeats, and the
traced-minus-untraced median is trace.overhead_s.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import statistics
import sys
import time
import urllib.error
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import procs  # noqa: E402

RESAMPLES = 10_000  # the CLI default the batch_perm workload runs with
ORACLE_RESAMPLES = 2_000
CHILD_TIMEOUT = 150.0

BATCH_TTEST = gen.Shape(
    projects=40, biosamples=4_000, zipf_s=1.0, min_biosamples=8, extra_run_share=0.25,
    attributes=4, max_values=6, min_value_count=2, groups=12, density=0.35,
    zero_spots_share=0.02, missing_share=0.03, unknown_runs=20,
)
BATCH_PERM = gen.Shape(
    projects=8, biosamples=12_000, zipf_s=1.0, min_biosamples=10, extra_run_share=0.2,
    attributes=3, max_values=4, min_value_count=4, groups=4, density=0.2,
    zero_spots_share=0.02, missing_share=0.03, unknown_runs=10,
)
SERVE = gen.Shape(
    projects=12, biosamples=1_200, zipf_s=1.0, min_biosamples=8, extra_run_share=0.25,
    attributes=3, max_values=5, min_value_count=2, groups=6, density=0.35,
    zero_spots_share=0.02, missing_share=0.03, unknown_runs=20,
)
# warmups: a CLI process's second run is still slower than its third (on
# batch_perm by up to 3.5 s, 1.1 s on average over 10 seeds), so one run is
# left untimed. A server's requests get faster through its first ~8 (6 s,
# then 3-4.5 s); no single warm-up request isolates that, and a fixed
# count of timed requests already compares processes at the same point
# of it.
# timed: repeats timed at run_seconds. Set-up and the first operation
# already cost a run ~40 s (batch_perm) or ~30 s (serve_requests), and the
# benchmark's time budget is about 70 s a run on a 4-vCPU machine. More
# timed repeats did not narrow the spread across runs, which follows the
# machine over the whole run (README.md, Protocol).
WORKLOADS = {
    "batch_ttest": {"kind": "cli", "shape": BATCH_TTEST, "flags": ["--t-test-only"],
                    "t_test_only": True, "warmups": 1, "timed": 2},
    "batch_perm": {"kind": "cli", "shape": BATCH_PERM, "flags": ["--combine-outputs"],
                   "t_test_only": False, "warmups": 1, "timed": 1},
    "serve_requests": {"kind": "serve", "shape": SERVE, "t_test_only": True,
                       "warmups": 0, "timed": 2, "requests": 48, "rows_per_project": 100},
}



def _spec() -> dict:
    """BENCHMARK.json at the repository root: the metric names and units,
    and run_seconds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


SPEC = _spec()
METRICS = {kind: SPEC[kind] for kind in ("end_to_end", "per_layer")}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def engine_cores() -> int:
    """Task slots of the engine (SPARK_GRAFT_CPUS): one core fewer than
    the machine has, so the engine's Python workers do not compete with
    its own JVM (driver thread, JIT compiler, GC) and the benchmark's
    client for the last core."""
    return max(1, nproc() - 1)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, work: str) -> None:
        self.w = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        self.n_children = 0
        self.env = {
            # the engine's default JVM heap (get_spark), whatever the caller's
            **{k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEMORY"},
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(engine_cores()),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            # keep the JVMs' temp files (extracted native libraries,
            # hsperfdata) inside the work directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        }
        os.makedirs(self.env["TMPDIR"], exist_ok=True)

    # -- inputs and oracle (outside every timed region) -------------------

    def prepare(self) -> dict:
        import pandas as pd

        info = gen.write_inputs(self.w["shape"], self.seed, os.path.join(self.work, "in"))
        self.paths = info["paths"]
        inp = pd.read_csv(self.paths["input"], dtype={"run": str, "group": str})
        cat = pd.read_parquet(self.paths["catalog"])
        projects = oracle.condense(pd.read_parquet(self.paths["meta"]))
        info["counts"]["sets"] = sum(len(p.labels) for p in projects.values())
        if self.w["kind"] == "cli":
            self.expected = oracle.expected_rows(
                inp, cat, projects, self.w["t_test_only"], ORACLE_RESAMPLES, self.seed
            )
            info["counts"]["tests"] = len(self.expected)
        else:
            self.requests = gen.serve_requests(
                inp, cat, self.seed, self.w["requests"], self.w["rows_per_project"]
            )
            self.request_bodies = [json.dumps(r).encode() for r in self.requests]
            self.expected_req = [
                oracle.expected_rows(
                    pd.DataFrame(r), cat, projects, True, ORACLE_RESAMPLES, self.seed
                )
                for r in self.requests
            ]
            info["counts"]["requests"] = len(self.requests)
            info["counts"]["request_rows"] = self.w["rows_per_project"] * 2
            info["counts"]["tests_per_request_mean"] = statistics.mean(
                len(e) for e in self.expected_req
            )
        return info

    def check(self, what: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failures.append(f"{what}: {len(errs)} mismatches, first: {errs[0]}")

    # -- engine processes --------------------------------------------------

    def _child(self, job: dict):
        k = self.n_children
        self.n_children += 1
        job_path = os.path.join(self.work, f"job{k}.json")
        job.update(result=os.path.join(self.work, f"result{k}.json"),
                   eventlog_dir=os.path.join(self.work, f"eventlog{k}"))
        log = os.path.join(self.work, f"engine{k}.log")
        job["spawn_time"] = time.time()
        with open(job_path, "w") as f:
            json.dump(job, f)
        proc = procs.spawn([sys.executable, os.path.join(HERE, "engine.py"), job_path],
                           self.env, log)
        return proc, job, log

    def _finish(self, proc, job, log, term: bool) -> dict:
        rc = procs.stop_group(proc, CHILD_TIMEOUT, term_first=term)
        if rc != 0 or not os.path.exists(job["result"]):
            with open(log, errors="replace") as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"engine process exited with {rc}:\n{tail}")
        with open(job["result"]) as f:
            res = json.load(f)
        el = job["eventlog_dir"]
        files = os.listdir(el) if os.path.isdir(el) else []
        res["eventlog"] = os.path.join(el, files[0]) if len(files) == 1 else None
        return res

    def n_ops(self, seconds: float) -> int:
        """The first operation, the warm-ups and the timed repeats that
        ``seconds`` buy."""
        timed = round(self.w["timed"] * seconds / SPEC["run_seconds"])
        return 1 + self.w["warmups"] + max(1, timed)

    def timed(self, ops: list) -> list:
        """The timed repeats: after the first operation and the warm-ups."""
        return ops[1 + self.w["warmups"]:]

    def cli_process(self, n_ops: int, trace: bool) -> dict:
        k = self.n_children
        job = {"mode": "cli", "trace": trace, "runs": n_ops,
               "argv": [self.paths["input"], "--catalog", self.paths["catalog"],
                        "--metadata-long", self.paths["meta"], *self.w["flags"]],
               "out_base": os.path.join(self.work, f"out{k}")}
        proc, job, log = self._child(job)
        with procs.RssSampler(proc.pid) as rss:
            res = self._finish(proc, job, log, term=False)
        res["peak_rss_mb"] = rss.peak_mib
        for i, run in enumerate(res["runs"]):
            rows = oracle.read_csv_results(run["out"]) if run["rc"] == 0 else []
            run["rows"] = rows
            run["n_rows"] = len(rows)
            errs = oracle.check_rows(self.expected, rows, RESAMPLES)
            if run["rc"] != 0:
                errs.insert(0, f"exit code {run['rc']}")
            self.check(f"process {k} run {i}", errs)
        return res

    def serve_process(self, n_ops: int, trace: bool) -> dict:
        """Start the server; time process start → /healthz OK (setup),
        then a closed loop of ``n_ops`` requests; stop the server."""
        k = self.n_children
        port_file = os.path.join(self.work, f"port{k}")
        job = {"mode": "serve", "trace": trace, "catalog": self.paths["catalog"],
               "meta": self.paths["meta"], "port_file": port_file}
        proc, job, log = self._child(job)
        runs = []
        with procs.RssSampler(proc.pid) as rss:
            try:
                port = self._wait_ready(proc, port_file, job["spawn_time"] + CHILD_TIMEOUT)
                setup = time.time() - job["spawn_time"]
                for i in range(n_ops):
                    wall, rows, errs = self._request(port, i % len(self.requests))
                    runs.append({"wall": wall, "n_rows": len(rows), "rows": rows})
                    self.check(f"process {k} request {i}", errs)
            finally:
                res = self._finish(proc, job, log, term=True)
        res.update(setup_s=setup, runs=runs, peak_rss_mb=rss.peak_mib)
        return res

    def _wait_ready(self, proc, port_file: str, deadline: float) -> int:
        while time.time() < deadline:
            if proc.poll() is not None:
                raise RuntimeError(f"server exited with {proc.returncode} before ready")
            if os.path.exists(port_file):
                with open(port_file) as f:
                    port = int(f.read())
                try:
                    with urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz", timeout=5) as r:
                        if r.status == 200:
                            return port
                except (urllib.error.URLError, ConnectionError):
                    pass
            time.sleep(0.02)
        raise RuntimeError("server not ready before the deadline")

    def _request(self, port: int, j: int) -> tuple[float, list[dict], list[str]]:
        body = self.request_bodies[j]
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=CHILD_TIMEOUT)
        try:
            conn.request("POST", "/run_mwas?t_test_only=1", body=body,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        wall = time.perf_counter() - t0
        if resp.status != 200:
            return wall, [], [f"HTTP {resp.status}: {data[:300]!r}"]
        reply = json.loads(data)
        rows = reply.get("rows", [])
        errs = oracle.check_rows(self.expected_req[j], rows, RESAMPLES)
        if reply.get("n") != len(rows):
            errs.append(f"reply n={reply.get('n')} but {len(rows)} rows inline")
        return wall, rows, errs

    def process(self, seconds: float, trace: bool) -> dict:
        if self.w["kind"] == "cli":
            return self.cli_process(self.n_ops(seconds), trace)
        return self.serve_process(self.n_ops(seconds), trace)

    # -- metrics -------------------------------------------------------------

    def end_to_end(self) -> tuple[dict, dict]:
        p = self.process(self.seconds, False)
        ops = self.timed(p["runs"])
        values = {
            "setup_s": p["setup_s"],
            "first_run_s": p["runs"][0]["wall"],
            "mwas_run_s": statistics.median(r["wall"] for r in ops),
            "tests_per_s": statistics.median(r["n_rows"] / r["wall"] for r in ops),
        }
        raw = {"walls": [r["wall"] for r in p["runs"]], "rows": [r["n_rows"] for r in p["runs"]],
               "peak_rss_mb": p["peak_rss_mb"]}
        return values, raw

    def per_layer(self) -> tuple[dict, dict]:
        half = self.seconds / 2.0
        plain = self.process(half, False)
        traced = self.process(half, True)
        if not traced.get("eventlog"):
            raise RuntimeError("traced process left no single event log")
        log = eventlog.read(traced["eventlog"])
        spans = traced["spans"]
        attr = eventlog.attribute(log, spans)
        tops = sorted((s for s in spans if s["name"] == "run"), key=lambda s: s["start"])
        per_run = self.timed([
            self._layers_of_run(top, spans, attr, run)
            for top, run in zip(tops, traced["runs"])
        ])
        values = {k: statistics.median(r[k] for r in per_run) for k in per_run[0]}
        once = {s["name"]: s["end"] - s["start"] for s in spans
                if s["name"] in ("session.get_spark", "condense.condense_metadata")}
        values["session.get_spark_s"] = once.get("session.get_spark", 0.0)
        if self.w["kind"] == "serve":
            # the server condenses once, lazily, before the first request
            values["condense.condense_metadata_s"] = once.get("condense.condense_metadata", 0.0)
        values["peak_rss_mb"] = plain["peak_rss_mb"]
        plain_med = statistics.median(r["wall"] for r in self.timed(plain["runs"]))
        traced_med = statistics.median(r["wall"] for r in self.timed(traced["runs"]))
        values["trace.overhead_s"] = traced_med - plain_med
        raw = {"untraced_walls": [r["wall"] for r in plain["runs"]],
               "traced_walls": [r["wall"] for r in traced["runs"]],
               "per_run": per_run, "traced_peak_rss_mb": traced["peak_rss_mb"]}
        return values, raw

    def _layers_of_run(self, top: dict, spans: list[dict], attr: dict, run: dict) -> dict:
        inside = [s for s in spans if s is not top and top["start"] <= s["start"] <= top["end"]]
        by = {}
        for s in inside:
            by.setdefault(s["name"], []).append(s)

        def dur(name):
            return sum(s["end"] - s["start"] for s in by.get(name, []))

        def agg(name, key):
            return sum(attr[s["id"]][key] for s in by.get(name, []))

        cores = engine_cores()
        m = {
            "sources.read_input_csv_s": dur("sources.read_input_csv"),
            "sources.read_input_csv.jobs": agg("sources.read_input_csv", "jobs"),
            "sources.input_from_rows_s": dur("sources.input_from_rows"),
            "condense.condense_metadata_s": dur("condense.condense_metadata"),
            "mwas.run_mwas_s": dur("mwas.run_mwas"),
            "mwas.release_s": dur("mwas.release"),
            "mwas.pinned_bytes": sum(s.get("pinned_bytes", 0) for s in by.get("mwas.release", [])),
            "sinks.plan_s": dur("sinks.plan"),
            "sinks.write_s": dur("sinks.write"),
            "sinks.jobs": agg("sinks.write", "jobs"),
            "sinks.task_s": agg("sinks.write", "task_s"),
            "sinks.bytes_written": agg("sinks.write", "output_bytes"),
            "requests.serve_request_s": dur("requests.serve_request"),
            "requests.collect_s": dur("requests.collect"),
            "http.overhead_s": 0.0,
        }
        if "requests.serve_request" in by:
            # the client-observed wall of this request minus the engine's
            # part of it, both from the traced process
            m["http.overhead_s"] = run["wall"] - (
                m["requests.serve_request_s"] + m["requests.collect_s"]
            )
        for k in ("jobs", "stages", "tasks", "job_busy_s", "task_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes"):
            m[f"mwas.{k}"] = agg("mwas.run_mwas", k)
        m["mwas.driver_s"] = m["mwas.run_mwas_s"] - m["mwas.job_busy_s"]
        busy = m["mwas.job_busy_s"]
        m["mwas.parallel_eff"] = m["mwas.task_s"] / (busy * cores) if busy > 0 else 0.0
        everything = inside + [top]
        for k, src in (("run_s", "python_run_s"), ("start_s", "python_start_s"),
                       ("init_s", "python_init_s"), ("bytes_sent", "python_bytes_sent"),
                       ("bytes_received", "python_bytes_received")):
            m[f"python_udf.{k}"] = sum(attr[s["id"]][src] for s in everything)
        m["sinks.files_written"] = sum(
            1 for _, _, fs in os.walk(run.get("out", "")) for f in fs
            if not f.startswith(("_", "."))
        )
        python_s = m["python_udf.run_s"] + m["python_udf.init_s"]
        task_s = sum(attr[s["id"]]["task_s"] for s in everything)
        tasks = sum(attr[s["id"]]["tasks"] for s in everything)
        # both are measured per task, inside it (ms resolution)
        if python_s > task_s + 0.002 * tasks:
            raise RuntimeError(
                f"Python worker time {python_s:.3f} s exceeds the run's task time {task_s:.3f} s"
            )
        m.update(kernel_metrics(run["rows"]))
        run_s = m["python_udf.run_s"]
        m["python_udf.kernel_share"] = m["stattests.kernel_s"] / run_s if run_s > 0 else 0.0
        return m


def kernel_metrics(rows: list[dict]) -> dict:
    """Permutation-kernel work from the result rows: each row carries
    its group's kernel wall divided by the group's test count, so the sum
    over a group's rows is the group's kernel wall."""
    perm = [r for r in rows if str(r["status"]).startswith("permutation_test")]
    calls: dict[tuple, int] = {}
    kernel_s = 0.0
    for r in perm:
        kernel_s += float(r["runtime_seconds"])
        calls[(r["bioproject"], r["group"])] = int(float(r["num_true"])) + int(float(r["num_false"]))
    elems = sum(calls.values()) * RESAMPLES
    return {
        "stattests.kernel_s": kernel_s,
        "stattests.kernel_calls": len(calls),
        "stattests.resample_elems": elems,
        "stattests.elems_per_s": elems / kernel_s if kernel_s > 0 else 0.0,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mwas_rfam_spark", "__main__.py")):
        print(f"no mwas_rfam_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        bench = Bench(args.workload, args.seed, args.seconds, work)
        stamp_start = procs.machine_stamp()
        info = bench.prepare()
        if args.trace:
            values, raw = bench.per_layer()
        else:
            values, raw = bench.end_to_end()
        stamp_end = procs.machine_stamp()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    units = {m["name"]: m["unit"] for m in METRICS["per_layer" if args.trace else "end_to_end"]}
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"BENCHMARK.json declares metrics run.py does not compute: {missing}")
    failed = len(bench.failures)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": {k: info[k] for k in ("shape", "counts", "digest")},
        "machine": {"start": stamp_start, "end": stamp_end,
                    "steal_share": procs.steal_share(stamp_start, stamp_end)},
        "raw": raw,
        "failed_ratio": failed / bench.attempted, "failures": bench.failures[:20],
    }
    print(json.dumps(report, default=float), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
