"""Seeded input generator for the MWAS benchmark.

Writes the three files the engine's CLI takes:

  input.csv              (run, group, quantifier)
  catalog.parquet        (bio_project, bio_sample, run, spots)
  metadata_long.parquet  (bioproject, biosample_id, attribute, attr_pos, value)

Every SHAPE (projects, biosamples per project, runs, attribute value
counts, rows per group) is a deterministic function of the parameters;
the seed only draws identifiers, assignments and values. So two seeds
give inputs of the same size and test count, and run-to-run spread in
the benchmark measures the engine, not the input size.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

NA_TOKENS = ("NA", "", "nan")  # "" is written as a null cell


@dataclass(frozen=True)
class Shape:
    projects: int
    biosamples: int  # total over all projects
    zipf_s: float  # biosamples per project ∝ rank^-zipf_s
    min_biosamples: int  # floor per project
    extra_run_share: float  # share of biosamples with a second run
    attributes: int
    max_values: int  # attribute a has 2 + a % (max_values - 1) values
    min_value_count: int  # smallest cohort a value may define
    groups: int
    density: float  # share of a project's runs observed per group
    zero_spots_share: float  # catalog rows with spots == 0
    missing_share: float  # metadata cells holding an NA token
    unknown_runs: int  # input rows whose run the catalog lacks


def project_sizes(s: Shape) -> list[int]:
    w = np.arange(1, s.projects + 1, dtype=np.float64) ** -s.zipf_s
    sizes = np.maximum(np.floor(w / w.sum() * s.biosamples), s.min_biosamples)
    return [int(x) for x in sizes]


def _value_counts(n_present: int, m: int, min_count: int) -> list[int]:
    """Cohort sizes of m values over n_present biosamples: proportional
    to 1/(j+1), each at least min_count, summing to n_present."""
    m = max(1, min(m, n_present // max(min_count, 1)))
    w = 1.0 / np.arange(1, m + 1)
    spare = n_present - m * min_count
    counts = min_count + np.floor(w / w.sum() * spare).astype(int)
    counts[0] += n_present - counts.sum()
    return [int(c) for c in counts]


def _ids(rng: np.random.Generator, prefix: str, n: int, width: int) -> list[str]:
    nums = rng.choice(10**width, size=n, replace=False)
    return [f"{prefix}{x:0{width}d}" for x in nums]


def generate(s: Shape, seed: int) -> dict:
    """Build the tables in memory. Returns plain Python/numpy columns."""
    rng = np.random.default_rng(seed)
    sizes = project_sizes(s)
    n_bs = sum(sizes)
    bps = _ids(rng, "PRJNA", s.projects, 7)
    biosamples = _ids(rng, "SAMN", n_bs, 9)
    n_extra = int(round(s.extra_run_share * n_bs))
    runs = _ids(rng, "SRR", n_bs + n_extra, 9)

    cat_bp, cat_bs, cat_run = [], [], []
    meta = {k: [] for k in ("bioproject", "biosample_id", "attribute", "attr_pos", "value")}
    extra_of = set(rng.choice(n_bs, size=n_extra, replace=False).tolist())
    run_i = 0
    bs_i = 0
    project_runs: list[list[str]] = []
    for bp, n in zip(bps, sizes):
        members = biosamples[bs_i : bs_i + n]
        prs = []
        for j, bs in enumerate(members):
            k = 2 if (bs_i + j) in extra_of else 1
            for _ in range(k):
                cat_bp.append(bp)
                cat_bs.append(bs)
                cat_run.append(runs[run_i])
                prs.append(runs[run_i])
                run_i += 1
        project_runs.append(prs)
        bs_i += n
        n_missing = int(round(s.missing_share * n))
        for a in range(s.attributes):
            m = 2 + a % (s.max_values - 1)
            counts = _value_counts(n - n_missing, m, s.min_value_count)
            vals = [f"value_{a}_{v}" for v, c in enumerate(counts) for _ in range(c)]
            vals += [NA_TOKENS[i % len(NA_TOKENS)] for i in range(n - len(vals))]
            order = rng.permutation(n)
            for j in range(n):
                v = vals[order[j]]
                meta["bioproject"].append(bp)
                meta["biosample_id"].append(members[j])
                meta["attribute"].append(f"attr_{a}")
                meta["attr_pos"].append(a)
                meta["value"].append(None if v == "" else v)

    n_runs = len(cat_run)
    spots = rng.integers(100_000, 50_000_000, size=n_runs)
    n_zero = int(round(s.zero_spots_share * n_runs))
    spots[rng.choice(n_runs, size=n_zero, replace=False)] = 0

    groups = [f"RF{g:05d}" for g in range(1, s.groups + 1)]
    in_run, in_group = [], []
    for prs in project_runs:
        k = max(3, int(round(s.density * len(prs))))
        for g in groups:
            pick = rng.choice(len(prs), size=min(k, len(prs)), replace=False)
            in_run.extend(prs[i] for i in pick)
            in_group.extend([g] * len(pick))
    for i in range(s.unknown_runs):
        in_run.append(f"ERR{i:09d}")
        in_group.append(groups[i % len(groups)])
    # read counts: mostly small, heavy upper tail, some zeros
    quant = np.floor(rng.lognormal(3.0, 1.5, size=len(in_run))).astype(np.int64)
    order = rng.permutation(len(in_run))
    return {
        "input": ([in_run[i] for i in order], [in_group[i] for i in order], quant[order]),
        "catalog": (cat_bp, cat_bs, cat_run, spots),
        "meta": meta,
    }


def write_inputs(s: Shape, seed: int, out_dir: str) -> dict:
    """Write the three files under out_dir; return their paths, the
    shape, the resulting counts and a sha256 digest over the bytes."""
    os.makedirs(out_dir, exist_ok=True)
    t = generate(s, seed)
    paths = {
        "input": os.path.join(out_dir, "input.csv"),
        "catalog": os.path.join(out_dir, "catalog.parquet"),
        "meta": os.path.join(out_dir, "metadata_long.parquet"),
    }
    run, group, quant = t["input"]
    with open(paths["input"], "w") as f:
        f.write("run,group,quantifier\n")
        f.writelines(f"{r},{g},{q}\n" for r, g, q in zip(run, group, quant.tolist()))
    bp, bs, cr, spots = t["catalog"]
    pq.write_table(
        pa.table(
            {
                "bio_project": pa.array(bp, pa.string()),
                "bio_sample": pa.array(bs, pa.string()),
                "run": pa.array(cr, pa.string()),
                "spots": pa.array(spots, pa.int64()),
            }
        ),
        paths["catalog"],
    )
    m = t["meta"]
    pq.write_table(
        pa.table(
            {
                "bioproject": pa.array(m["bioproject"], pa.string()),
                "biosample_id": pa.array(m["biosample_id"], pa.string()),
                "attribute": pa.array(m["attribute"], pa.string()),
                "attr_pos": pa.array(m["attr_pos"], pa.int32()),
                "value": pa.array(m["value"], pa.string()),
            }
        ),
        paths["meta"],
    )
    h = hashlib.sha256()
    for k in ("input", "catalog", "meta"):
        with open(paths[k], "rb") as f:
            h.update(f.read())
    return {
        "paths": paths,
        "shape": asdict(s),
        "seed": seed,
        "counts": {
            "input_rows": len(run),
            "catalog_rows": len(cr),
            "biosamples": sum(project_sizes(s)),
            "projects": s.projects,
            "metadata_rows": len(m["bioproject"]),
        },
        "digest": h.hexdigest(),
    }


def serve_requests(
    inp, catalog, seed: int, n_requests: int, rows_per_project: int
) -> list[list[dict]]:
    """Request bodies for POST /run_mwas, built from the generated input
    and catalog frames: each takes rows_per_project input rows from each
    of 2 seeded-random bioprojects (among projects holding that many)."""
    rng = np.random.default_rng([seed, 1])
    j = inp.merge(catalog[["run", "bio_project"]], on="run", how="inner")
    sizes = j.groupby("bio_project").size()
    eligible = sorted(sizes[sizes >= rows_per_project].index)
    if len(eligible) < 2:
        raise ValueError("serve workload needs 2 projects with enough input rows")
    out = []
    for _ in range(n_requests):
        parts = [
            j[j["bio_project"] == bp].sample(n=rows_per_project, random_state=rng)
            for bp in rng.choice(eligible, size=2, replace=False)
        ]
        body = pd.concat(parts)[["run", "group", "quantifier"]]
        out.append(
            [
                {"run": r, "group": g, "quantifier": float(q)}
                for r, g, q in body.itertuples(index=False)
            ]
        )
    return out
