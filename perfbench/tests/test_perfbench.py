"""Tests of the benchmark's own parts: generator, oracle, event-log
attribution. Run from the repository root:

  python -m pytest perfbench/tests -q
"""

import math
import os

import numpy as np
import pandas as pd
import pytest

import eventlog
import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))

TINY = gen.Shape(
    projects=4, biosamples=80, zipf_s=1.0, min_biosamples=10, extra_run_share=0.2,
    attributes=3, max_values=4, min_value_count=4, groups=3, density=0.5,
    zero_spots_share=0.05, missing_share=0.05, unknown_runs=3,
)


def _load(info):
    p = info["paths"]
    return (
        pd.read_csv(p["input"], dtype={"run": str, "group": str}),
        pd.read_parquet(p["catalog"]),
        pd.read_parquet(p["meta"]),
    )


def test_generator_is_seeded_and_shape_stable(tmp_path):
    a = gen.write_inputs(TINY, 5, str(tmp_path / "a"))
    b = gen.write_inputs(TINY, 5, str(tmp_path / "b"))
    c = gen.write_inputs(TINY, 6, str(tmp_path / "c"))
    assert a["digest"] == b["digest"]
    assert a["digest"] != c["digest"]
    # the seed draws values, never sizes
    assert a["counts"] == c["counts"]
    inp, cat, meta = _load(a)
    assert (cat["spots"] == 0).sum() == round(TINY.zero_spots_share * len(cat))
    assert (~inp["run"].isin(cat["run"])).sum() == TINY.unknown_runs
    assert meta["value"].isna().any() and meta["value"].isin(["NA"]).any()


def test_t_tail_matches_closed_forms():
    for t in (0.1, 1.0, 2.5, 10.0, 100.0):
        # df = 1 (Cauchy) and df = 2 have closed-form tails
        assert math.isclose(oracle.t_two_sided_p(t, 1.0), 1 - 2 * math.atan(t) / math.pi,
                            rel_tol=1e-10)
        assert math.isclose(oracle.t_two_sided_p(t, 2.0), 1 - t / math.sqrt(t * t + 2),
                            rel_tol=1e-10)
    # tabulated two-sided 5% critical values
    assert math.isclose(oracle.t_two_sided_p(2.228138851986274, 10.0), 0.05, rel_tol=1e-9)
    assert math.isclose(oracle.t_two_sided_p(1.9839715185235556, 100.0), 0.05, rel_tol=1e-9)
    assert oracle.t_two_sided_p(math.inf, 3.0) == 0.0
    assert math.isnan(oracle.t_two_sided_p(math.nan, 3.0))


def test_permutation_estimate_brackets_exact_enumeration():
    from itertools import combinations

    rng = np.random.default_rng(0)
    v = np.concatenate([np.zeros(4), rng.lognormal(size=6)])
    mask = np.zeros(10, dtype=bool)
    mask[[1, 5, 7, 9]] = True
    obs = v[mask].mean() - v[~mask].mean()
    null = np.array([v[list(c)].mean() - np.delete(v, list(c)).mean()
                     for c in combinations(range(10), 4)])
    tol = 1e-9 * max(1.0, np.abs(v).max())
    exact = min(1.0, 2 * min((null >= obs - tol).mean(), (null <= obs + tol).mean()))
    (p,) = oracle.perm_p_values(v, [mask], [obs], 4000, np.random.default_rng(1))
    assert abs(p - exact) <= oracle.perm_band(exact, 10**9, p, 4000)


def _engine_like_rows(expected):
    """Rows shaped like the engine's CSV output, built from the oracle."""
    rows = []
    for (bp, group, field, value), e in expected.items():
        sig = e["p"] is not None and e["p"] < oracle.P_THRESHOLD
        rows.append({
            "bioproject": bp, "group": group, "metadata_field": field,
            "metadata_value": value, "status": e["kind"] + ("; significant" if sig else ""),
            "num_true": str(e["num_true"]), "num_false": str(e["num_false"]),
            "mean_rpm_true": repr(e["mean_rpm_true"]), "mean_rpm_false": repr(e["mean_rpm_false"]),
            "sd_rpm_true": repr(e["sd_rpm_true"]), "sd_rpm_false": repr(e["sd_rpm_false"]),
            "test_statistic": "" if e["t"] is None else repr(e["t"]),
            "p_value": "" if e["p"] is None else repr(e["p"]),
            "runtime_seconds": "0.0",
        })
    return rows


@pytest.mark.parametrize("t_test_only", [True, False])
def test_oracle_accepts_itself_and_rejects_perturbations(tmp_path, t_test_only):
    info = gen.write_inputs(TINY, 3, str(tmp_path / "in"))
    inp, cat, meta = _load(info)
    exp = oracle.expected_rows(inp, cat, oracle.condense(meta), t_test_only, 4000, 3)
    assert exp
    rows = _engine_like_rows(exp)
    assert oracle.check_rows(exp, rows, 4000) == []

    def broken(i, **change):
        r = [dict(x) for x in rows]
        r[i].update(change)
        return oracle.check_rows(exp, r, 4000)

    tested = [i for i, r in enumerate(rows) if r["p_value"]]
    i = tested[0]
    assert broken(i, mean_rpm_true=repr(float(rows[i]["mean_rpm_true"]) * 1.001 + 1e-3))
    assert broken(i, num_true=str(int(rows[i]["num_true"]) + 1))
    assert broken(i, test_statistic=repr(float(rows[i]["test_statistic"]) * 1.01 + 0.01))
    p = float(rows[i]["p_value"])
    assert broken(i, p_value=repr(p + 0.3 if p < 0.5 else p - 0.5))
    assert broken(i, status="skipped_statistical_testing")
    assert broken(i, metadata_value="not a value")
    assert oracle.check_rows(exp, rows[1:], 4000)  # a missing row
    assert oracle.check_rows(exp, rows + rows[:1], 4000)  # a duplicate row


def test_eventlog_attribution_on_canned_log():
    log = eventlog.read(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    spans = [
        {"id": 1, "name": "run", "start": 1000.5, "end": 1004.5},
        {"id": 2, "name": "mwas", "start": 1001.0, "end": 1003.0},
        {"id": 3, "name": "write", "start": 1003.0, "end": 1004.0},
    ]
    a = eventlog.attribute(log, spans)
    m = a[2]
    assert (m["jobs"], m["stages"], m["tasks"]) == (2, 3, 10)  # stage 2 counted once
    assert m["job_busy_s"] == pytest.approx(1.0)  # union of overlapping jobs
    assert m["task_s"] == pytest.approx(2.2)
    assert m["cpu_s"] == pytest.approx(0.8)
    assert m["gc_s"] == pytest.approx(0.02)
    assert m["shuffle_read_bytes"] == 5000 and m["shuffle_write_bytes"] == 5000
    # SQL accumulable 9 runs through stages 1 and 2; its stage Values
    # (0.1 s, then the running total 0.31 s) would count stage 1 twice
    assert m["python_run_s"] == pytest.approx(0.31)
    assert m["python_start_s"] == pytest.approx(0.015)
    # the reused worker's 8 s of "init" is idle wait, clipped to the
    # 150 - 110 ms of its task not spent running Python
    assert m["python_init_s"] == pytest.approx(0.035 + 0.040)
    assert m["python_init_s"] + m["python_run_s"] <= m["task_s"]
    assert (m["python_bytes_sent"], m["python_bytes_received"]) == (2048, 1024)
    w = a[3]  # the innermost span wins over the enclosing run
    assert (w["jobs"], w["task_s"], w["output_bytes"]) == (1, pytest.approx(0.25), 777)
    assert w["job_busy_s"] == pytest.approx(0.4)
    r = a[1]
    assert (r["jobs"], r["stages"], r["job_busy_s"]) == (1, 1, pytest.approx(0.1))
    # job 0 precedes every span and is charged to none
    assert sum(x["jobs"] for x in a.values()) == 4


def test_metric_names_agree_with_benchmark_json():
    import json

    import run

    declared = {m["name"] for kind in ("end_to_end", "per_layer") for m in run.METRICS[kind]}
    with open(os.path.join(HERE, "..", "predictions.json")) as f:
        pred = json.load(f)
    for p in pred["predictions"]:
        assert p["layer"] in declared, p["layer"]
        assert p["moves"] is None or p["moves"].split()[0] in declared, p["moves"]
    assert set(pred["end_to_end"]) == {m["name"] for m in run.METRICS["end_to_end"]}
    for name, base in pred["baseline"].items():
        assert set(base["per_layer"]) == {m["name"] for m in run.METRICS["per_layer"]}, name


@pytest.fixture(scope="module")
def spark():
    # Python workers unpickle the engine's closures by import path
    root = os.path.dirname(os.path.dirname(HERE))
    saved = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, saved) if p)
    from mwas_rfam_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        yield s
    finally:
        s.stop()
        if saved is None:
            del os.environ["PYTHONPATH"]
        else:
            os.environ["PYTHONPATH"] = saved


@pytest.mark.parametrize("flags", [["--t-test-only"], ["--combine-outputs"]])
def test_oracle_accepts_engine_output_and_rejects_it_perturbed(spark, tmp_path, flags):
    from mwas_rfam_spark.__main__ import main

    info = gen.write_inputs(TINY, 11, str(tmp_path / "in"))
    p = info["paths"]
    out = str(tmp_path / "out")
    assert main([p["input"], "--catalog", p["catalog"], "--metadata-long", p["meta"],
                 "--output", out, *flags], spark=spark) == 0
    inp, cat, meta = _load(info)
    exp = oracle.expected_rows(inp, cat, oracle.condense(meta), "--t-test-only" in flags,
                               4000, 11)
    rows = oracle.read_csv_results(out)
    assert len(rows) == len(exp)
    assert oracle.check_rows(exp, rows, 10_000) == []
    bad = [dict(r) for r in rows]
    bad[0]["sd_rpm_false"] = repr(float(bad[0]["sd_rpm_false"]) * 1.0001 + 1e-6)
    assert oracle.check_rows(exp, bad, 10_000)
