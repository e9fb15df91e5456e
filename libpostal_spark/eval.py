"""Recall/precision harness: exhaustive "reference rule" ground truth.

The north rule requires reproducing "the reference's cluster assignments at
the same shingle/signature config". The reference's dedup semantics define a
pair as duplicate when its expansion/shingle sets intersect enough
(/root/reference/src/dedupe.c:340-484, jaccard /root/reference/src/jaccard.c)
— i.e., ground truth for OUR config is the **exhaustive pairwise rule**:

    dup(f1, f2) ⇔ sha256 equal
               ∨ jaccard(shingles) >= threshold
               ∨ shared winnow fingerprint (common token run >= WINNOW_WINDOW)

Reference clusters = connected components of that relation, computed here by
brute force (driver-side, small corpora only). LSH recall is then measured
against these clusters: the planted corpus makes the truth non-trivial, and
the exhaustive rule makes it exact. perfbench checks every run's labels
against this rule; the pair recall/precision arithmetic lives with its one
user, tests/test_pipeline_e2e.py.
"""

from __future__ import annotations

import pandas as pd

from .config import PipelineConfig
from .core.canonicalize import canonicalize_batch
from .core.featurize import featurize


def exact_features(pdf: pd.DataFrame, cfg: PipelineConfig):
    """Driver-side featurize of a whole (small) corpus → dict fid→(set, set)."""
    canon = canonicalize_batch(
        pdf["content"].reset_index(drop=True),
        expansions=dict(cfg.token_expansions) if cfg.token_expansions else None,
    )
    f = featurize(canon, cfg)
    fids = list(pdf["fid"])
    return {
        fid: (frozenset(sh.tolist()), frozenset(wn.tolist()))
        for fid, sh, wn in zip(fids, f.shingles, f.winnow)
    }


def reference_pairs(pdf: pd.DataFrame, cfg: PipelineConfig) -> set[tuple[str, str]]:
    """Exhaustive O(n²) dup-pair set under the reference rule. Small n only."""
    feats = exact_features(pdf, cfg)
    fids = sorted(feats)
    out: set[tuple[str, str]] = set()
    for i in range(len(fids)):
        f1 = fids[i]
        s1, w1 = feats[f1]
        for j in range(i + 1, len(fids)):
            f2 = fids[j]
            # identical content ⇒ identical shingles ⇒ jaccard 1.0, so the
            # sha-equality arm of the rule is subsumed by the jaccard check
            s2, w2 = feats[f2]
            inter = len(s1 & s2)
            union = len(s1) + len(s2) - inter
            jac = 1.0 if union == 0 else inter / union
            if jac >= cfg.jaccard_threshold or (w1 & w2):
                out.add((f1, f2))
    return out


def closure(pairs: set[tuple[str, str]], universe: list[str]) -> dict[str, str]:
    """Union-find transitive closure → fid → component (min fid)."""
    parent = {f: f for f in universe}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {f: find(f) for f in universe}


