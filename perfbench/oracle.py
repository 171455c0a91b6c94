"""Independent output oracle for the MWAS benchmark (numpy + pandas).

Recomputes, from the generated files alone, every result row the engine
should emit and checks the engine's rows against it. It shares no code
with the engine: set condensation, RPM normalisation, implicit zeros,
the Welch statistic, the Student-t tail and the permutation null are all
written out here from the reference's definitions.

Tolerances (stated, fixed):
  * keys: the (bioproject, group, metadata_field, metadata_value) set
    must match exactly; num_true / num_false exactly;
  * means and SDs: |a - b| <= 1e-7 * max(|a|, |b|, max |rpm| in the group);
  * Welch test_statistic: |a - b| <= 1e-6 * max(1, |b|) (infinities equal);
  * Welch p_value: |a - b| <= 1e-12 + 1e-4 * b;
  * permutation p_value: within a binomial band around an independently
    seeded permutation estimate (see ``perm_band``);
  * status: the test kind must match, and "; significant" must agree
    with the row's own p_value < 0.005.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pandas._libs.parsers import STR_NA_VALUES

P_THRESHOLD = 0.005
MIN_COHORT = 2  # num_true / num_false below this → no row
MIN_PERM_COHORT = 4  # min(num_true, num_false) below this → t-test
GROUP_MIN_ROWS = 3  # a group with fewer input rows → skipped tests
ZERO_SPOTS = 1_000_000.0

# the reference reads metadata with pandas, so pandas' own default NA
# strings are what "missing" means
_NA = frozenset(STR_NA_VALUES) | {""}


# ---------------------------------------------------------------------------
# Student-t tail (regularized incomplete beta by Lentz's continued fraction)
# ---------------------------------------------------------------------------


def _betacf(a: float, b: float, x: float) -> float:
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 10_000):
        m2 = 2 * m
        for num in (
            m * (b - m) * x / ((a + m2 - 1.0) * (a + m2)),
            -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0)),
        ):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= c * d
        if abs(c * d - 1.0) < 1e-15:
            break
    return h


def _ibeta(a: float, b: float, x: float) -> float:
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(ln_front) * _betacf(a, b, x) / a
    return 1.0 - math.exp(ln_front) * _betacf(b, a, 1.0 - x) / b


def t_two_sided_p(t: float, df: float) -> float:
    """P(|T| >= |t|) for Student's t with df degrees of freedom."""
    if math.isnan(t) or math.isnan(df):
        return math.nan
    if math.isinf(t):
        return 0.0
    return _ibeta(df / 2.0, 0.5, df / (df + t * t))


def welch(m1, s1, n1, m2, s2, n2) -> tuple[float, float, float]:
    """Welch t, Welch–Satterthwaite df and two-sided p, fed population
    SDs as the reference does (scipy ttest_ind_from_stats semantics:
    zero pooled variance gives ±inf/nan and df 1)."""
    v1, v2 = s1 * s1 / n1, s2 * s2 / n2
    vs = v1 + v2
    d = m1 - m2
    if vs > 0:
        t = d / math.sqrt(vs)
        df = vs * vs / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1))
    else:
        t = math.inf if d > 0 else (-math.inf if d < 0 else math.nan)
        df = 1.0
    return t, df, t_two_sided_p(t, df)


# ---------------------------------------------------------------------------
# expected rows
# ---------------------------------------------------------------------------


@dataclass
class Project:
    biosamples: list[str]  # sorted universe
    index: dict[str, int]
    labels: list[tuple[str, str]]  # per set: (metadata_field, metadata_value)
    masks: np.ndarray  # (sets, n) bool, True = true cohort


def condense(meta: pd.DataFrame) -> dict[str, Project]:
    """Distinct (attribute, value) cohorts per bioproject: valid SAM*
    ids, informative values, frequency >= 2, attribute not constant and
    not key-like, a cohort shared by several labels listed once."""
    meta = meta[meta["biosample_id"].str.startswith("SAM")]
    out: dict[str, Project] = {}
    for bp, rows in meta.groupby("bioproject", sort=True):
        universe = sorted(set(rows["biosample_id"]))
        n = len(universe)
        if n < 3:
            continue
        index = {b: i for i, b in enumerate(universe)}
        info = rows[rows["value"].notna() & ~rows["value"].isin(_NA)]
        cohorts: dict[frozenset, list[tuple]] = {}
        for (attr, pos), col in info.groupby(["attribute", "attr_pos"], sort=False):
            by_value = col.groupby("value")["biosample_id"].agg(lambda s: frozenset(s))
            if not 1 < len(by_value) < n:
                continue
            for value, members in by_value.items():
                if 2 <= len(members) < n:
                    cohorts.setdefault(members, []).append(
                        (pos, value.replace(";", ":"), attr.replace(";", ":"))
                    )
        labels, masks = [], []
        for members, labs in cohorts.items():
            labs.sort()
            field = "; ".join(a for _, _, a in labs)
            value = "; ".join(v for _, v, _ in labs)
            labels.append((field.replace(",", " "), value.replace(",", " ")))
            m = np.zeros(n, dtype=bool)
            m[[index[b] for b in members]] = True
            masks.append(m)
        out[bp] = Project(universe, index, labels, np.array(masks).reshape(len(masks), n))
    return out


def rollup(inp: pd.DataFrame, catalog: pd.DataFrame) -> pd.DataFrame:
    """Per (bio_project, group, bio_sample) mean RPM over the input rows
    whose run the catalog knows, plus the per-group input-row count."""
    cat = catalog.copy()
    cat["spots"] = cat["spots"].astype(np.float64).where(cat["spots"] != 0, ZERO_SPOTS)
    j = inp.merge(cat, on="run", how="inner")
    q = j["quantifier"].astype(np.float64).fillna(0.0)
    j["rpm"] = q / j["spots"] * 1_000_000.0
    return j


def expected_rows(
    inp: pd.DataFrame,
    catalog: pd.DataFrame,
    projects: dict[str, Project],
    t_test_only: bool,
    perm_resamples: int,
    seed: int,
) -> dict[tuple, dict]:
    j = rollup(inp, catalog)
    rows_per_group = j.groupby(["bio_project", "group"]).size()
    per_bs = j.groupby(["bio_project", "group", "bio_sample"])["rpm"].mean()
    rng = np.random.default_rng([seed, 7])
    out: dict[tuple, dict] = {}
    for (bp, group), s in per_bs.groupby(level=[0, 1], sort=True):
        proj = projects.get(bp)
        if proj is None or not len(proj.labels):
            continue
        v = np.zeros(len(proj.biosamples))
        seen = False
        for bs, val in zip(s.index.get_level_values(2), s.to_numpy()):
            i = proj.index.get(bs)
            if i is not None:
                v[i] = val
                seen = True
        if not seen:
            continue
        skip = rows_per_group[(bp, group)] < GROUP_MIN_ROWS
        scale = float(np.abs(v).max())
        perm_rows = []
        for (field, value), mask in zip(proj.labels, proj.masks):
            vt, vf = v[mask], v[~mask]
            nt, nf = len(vt), len(vf)
            if nt < MIN_COHORT or nf < MIN_COHORT:
                continue
            mt, mf = float(vt.mean()), float(vf.mean())
            if mt == 0.0 and mf == 0.0:
                continue
            row = {
                "num_true": nt, "num_false": nf,
                "mean_rpm_true": mt, "mean_rpm_false": mf,
                "sd_rpm_true": float(vt.std()), "sd_rpm_false": float(vf.std()),
                "scale": scale,
            }
            if skip:
                row.update(kind="skipped_statistical_testing", t=None, p=None)
            elif t_test_only or min(nt, nf) < MIN_PERM_COHORT:
                t, _, p = welch(mt, row["sd_rpm_true"], nt, mf, row["sd_rpm_false"], nf)
                row.update(kind="t_test", t=t, p=p)
            else:
                row.update(kind="permutation_test", t=mt - mf, p=None)
                perm_rows.append((row, mask))
            out[(bp, group, field, value)] = row
        if perm_rows:
            ps = perm_p_values(v, [m for _, m in perm_rows], [r["t"] for r, _ in perm_rows],
                               perm_resamples, rng)
            for (row, _), p in zip(perm_rows, ps):
                row["p"] = p
                row["perm_resamples"] = perm_resamples
    return out


def perm_p_values(v, masks, observed, resamples, rng) -> list[float]:
    """Two-sided permutation p of mean(true) - mean(false) for each
    cohort mask over the pooled vector v, from `resamples` random
    relabelings: 2 * min(P(null >= obs), P(null <= obs)), with the
    (count + 1) / (resamples + 1) correction."""
    n = len(v)
    sizes = np.array([int(m.sum()) for m in masks])
    obs = np.asarray(observed, dtype=np.float64)
    tol = 1e-9 * max(1.0, float(np.abs(v).max()), float(np.abs(obs).max()))
    total = v.sum()
    ge = np.zeros(len(masks), dtype=np.int64)
    le = np.zeros(len(masks), dtype=np.int64)
    chunk = max(1, min(resamples, 2_000_000 // max(n, 1)))
    done = 0
    while done < resamples:
        k = min(chunk, resamples - done)
        perm = rng.permuted(np.tile(v, (k, 1)), axis=1)
        csum = np.cumsum(perm, axis=1)
        sx = csum[:, sizes - 1]  # (k, tests): sum of the first n_x after shuffling
        null = sx / sizes - (total - sx) / (n - sizes)
        ge += (null >= obs - tol).sum(axis=0)
        le += (null <= obs + tol).sum(axis=0)
        done += k
    p = 2.0 * np.minimum(ge + 1, le + 1) / (resamples + 1)
    return [float(x) for x in np.minimum(p, 1.0)]


def perm_band(p_engine: float, r_engine: int, p_oracle: float, r_oracle: int) -> float:
    """Allowed |p_engine - p_oracle|: 5 standard errors of the difference
    of two independent estimates of 2 * min-tail, plus one count of each."""
    q = min(0.5, max(p_engine, p_oracle, 1.0 / r_oracle) / 2.0)
    se = 2.0 * math.sqrt(q * (1.0 - q) * (1.0 / r_engine + 1.0 / r_oracle))
    return 5.0 * se + 2.0 / r_engine + 2.0 / r_oracle


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------


def _num(x) -> float | None:
    """Engine cell → float: CSV strings, JSON-safe strings or numbers."""
    if x is None:
        return None
    if isinstance(x, (int, float)):
        return float(x)
    s = str(x).strip()
    if s == "":
        return None
    return float({"Infinity": "inf", "-Infinity": "-inf", "NaN": "nan"}.get(s, s))


def _close(a, b, rel, floor) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= rel * max(abs(a), abs(b), floor)


def check_rows(expected: dict[tuple, dict], got: list[dict], r_engine: int) -> list[str]:
    """Compare engine rows (dicts keyed by the 18 output columns) with the
    expected rows. Returns one message per mismatch; empty means correct."""
    errs: list[str] = []
    seen = set()
    for g in got:
        key = (g["bioproject"], g["group"], g["metadata_field"], g["metadata_value"])
        if key in seen:
            errs.append(f"duplicate row {key}")
            continue
        seen.add(key)
        e = expected.get(key)
        if e is None:
            errs.append(f"unexpected row {key}")
            continue
        status = str(g["status"])
        kind, _, sig = status.partition("; ")
        if kind != e["kind"]:
            errs.append(f"{key}: status {status!r}, expected {e['kind']!r}")
            continue
        for c in ("num_true", "num_false"):
            if int(float(g[c])) != e[c]:
                errs.append(f"{key}: {c} {g[c]} != {e[c]}")
        for c in ("mean_rpm_true", "mean_rpm_false", "sd_rpm_true", "sd_rpm_false"):
            if not _close(_num(g[c]), e[c], 1e-7, e["scale"]):
                errs.append(f"{key}: {c} {g[c]} != {e[c]}")
        t, p = _num(g["test_statistic"]), _num(g["p_value"])
        if not _close(t, e["t"], 1e-6, 1.0):
            errs.append(f"{key}: test_statistic {t} != {e['t']}")
        if kind == "t_test":
            if p is None or not (
                (math.isnan(p) and math.isnan(e["p"]))
                or abs(p - e["p"]) <= 1e-12 + 1e-4 * e["p"]
            ):
                errs.append(f"{key}: p_value {p} != {e['p']}")
        elif kind == "permutation_test":
            if p is None or abs(p - e["p"]) > perm_band(p, r_engine, e["p"], e["perm_resamples"]):
                errs.append(f"{key}: permutation p_value {p} outside band of {e['p']}")
        elif p is not None:
            errs.append(f"{key}: skipped row carries p_value {p}")
        if p is not None and (sig == "significant") != (p < P_THRESHOLD):
            errs.append(f"{key}: status {status!r} disagrees with p_value {p}")
    missing = len(expected.keys() - seen)
    if missing:
        errs.append(f"{missing} expected rows missing, e.g. {next(iter(expected.keys() - seen))}")
    return errs


def read_csv_results(out_dir: str) -> list[dict]:
    """Rows of a CLI CSV output directory: the combined single file, or
    the bioproject=<id>/ partitioned layout."""
    import glob
    import os

    rows: list[dict] = []
    for path in sorted(glob.glob(os.path.join(out_dir, "**", "*.csv"), recursive=True)):
        df = pd.read_csv(path, dtype=str, keep_default_na=False)
        part = os.path.basename(os.path.dirname(path))
        if part.startswith("bioproject="):
            df["bioproject"] = part.split("=", 1)[1]
        rows.extend(df.to_dict("records"))
    return rows
