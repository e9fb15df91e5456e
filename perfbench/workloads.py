"""Seeded workload generator for the dedup benchmark.

Every workload is built from ``libpostal_spark.corpus.generate_corpus`` and
split in two halves that never meet:

* the program's input: ``repo, path, commit, lang, content`` only;
* the benchmark's truth: ``fid, cluster_id, xform, origin, fork``.

``origin`` is the row of the generated corpus a file was copied from and
``fork`` the copy number (always 0 outside ``fork_heavy``). Both tables are
cached per (workload, seed, size) as parquet under the work directory, so
generation stays out of every timed figure, set-up included.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

INPUT_COLUMNS = ["repo", "path", "commit", "lang", "content"]
TRUTH_COLUMNS = ["fid", "cluster_id", "xform", "origin", "fork"]

# Base-corpus sizes. near_dup follows bench.py's corpus shape at n_base;
# fork_heavy replicates a corpus a fifth that size across FORKS forks, so
# both hand the program about the same number of rows.
NEAR_DUP_BASE = 2000
FORKS = 5


@dataclass
class Workload:
    name: str
    seed: int
    files_path: str           # parquet with INPUT_COLUMNS only
    truth: pd.DataFrame       # TRUTH_COLUMNS, one row per input file
    contents: pd.Series       # fid -> content, for the reference rule

    @property
    def n_files(self) -> int:
        return len(self.truth)


def _corpus(n_base: int, seed: int) -> pd.DataFrame:
    from libpostal_spark.corpus import generate_corpus

    pdf = generate_corpus(
        n_base=n_base,
        n_boilerplate_copies=max(20, n_base // 50),
        n_clone_embed=max(5, n_base // 200),
        seed=seed,
    )
    pdf["origin"] = np.arange(len(pdf))
    pdf["fork"] = 0
    return pdf


def near_dup(seed: int, n_base: int = NEAR_DUP_BASE) -> pd.DataFrame:
    """Planted near-duplicates in bench.py's corpus shape."""
    return _corpus(n_base, seed)


def fork_heavy(seed: int, n_base: int = NEAR_DUP_BASE) -> pd.DataFrame:
    """A corpus a fifth the size, copied into FORKS forks.

    Each copy keeps path, commit and content and gets its own repo name,
    as a fork does; the rows are then shuffled. Most rows are exact copies,
    so the exact contraction removes most of the input before pairing.
    """
    from libpostal_spark.corpus import fid_of

    base = _corpus(max(1, n_base // FORKS), seed)
    copies = []
    for k in range(FORKS):
        c = base.copy()
        if k:
            c["repo"] = c["repo"] + f"-fork{k}"
        c["fork"] = k
        copies.append(c)
    pdf = pd.concat(copies, ignore_index=True)
    pdf["fid"] = [
        fid_of(r, p, c) for r, p, c in zip(pdf["repo"], pdf["path"], pdf["commit"])
    ]
    order = np.random.default_rng(seed).permutation(len(pdf))
    return pdf.iloc[order].reset_index(drop=True)


GENERATORS = {"near_dup": near_dup, "fork_heavy": fork_heavy}
WORKLOADS = tuple(GENERATORS)


def load(name: str, seed: int, cache_dir: str, n_base: int = NEAR_DUP_BASE) -> Workload:
    """Generate (or reuse the cached) workload ``name`` for ``seed``."""
    if name not in GENERATORS:
        raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
    key = f"{name}_b{n_base}_s{seed}"
    files_path = os.path.join(cache_dir, f"{key}.files.parquet")
    truth_path = os.path.join(cache_dir, f"{key}.truth.parquet")
    if not (os.path.exists(files_path) and os.path.exists(truth_path)):
        os.makedirs(cache_dir, exist_ok=True)
        pdf = GENERATORS[name](seed, n_base)
        # the truth table carries the content too (benchmark side only):
        # the reference rule needs it, and the input parquet stays exactly
        # the five columns the program is given
        for path, cols in (
            (files_path, INPUT_COLUMNS),
            (truth_path, TRUTH_COLUMNS + ["content"]),
        ):
            tmp = path + ".tmp"
            pdf[cols].to_parquet(tmp, index=False)
            os.replace(tmp, path)
    truth = pd.read_parquet(truth_path)
    return Workload(
        name=name,
        seed=seed,
        files_path=files_path,
        truth=truth[TRUTH_COLUMNS],
        contents=truth.set_index("fid")["content"],
    )
