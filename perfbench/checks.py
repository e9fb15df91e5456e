"""Output checks for every benchmark operation.

The reference rule is ``libpostal_spark.eval``'s exhaustive-pairwise rule:
two files are duplicates when their contents are identical, their shingle
Jaccard reaches the threshold, or they share a winnow fingerprint. It is
evaluated once per run, over distinct contents, by
``eval.exact_features``; each operation's labels are then checked against it:

* every input file is labelled exactly once and each component is named by
  its smallest fid (the ``clusters`` contract);
* no false merge: the distinct contents inside one component are connected
  under the reference rule;
* ``recall``: the share of planted pairs the rule calls duplicates whose two
  files share a component.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from dataclasses import dataclass, field
from itertools import combinations

import pandas as pd

MIN_RECALL = 0.99


@dataclass
class Verdict:
    recall: float
    problems: list = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def label_digest(labels: dict) -> str:
    h = hashlib.sha256()
    for fid in sorted(labels):
        h.update(f"{fid}\t{labels[fid]}\n".encode())
    return h.hexdigest()


class Reference:
    """Reference-rule verdicts for one workload's planted pairs."""

    def __init__(self, truth: pd.DataFrame, contents: pd.Series, cfg):
        from libpostal_spark.eval import exact_features

        self.cfg = cfg
        self.fids = set(truth["fid"])
        distinct = pd.unique(contents.loc[list(truth["fid"])].to_numpy())
        key_of_content = {c: i for i, c in enumerate(distinct)}
        self.key = {f: key_of_content[contents[f]] for f in truth["fid"]}
        feats = exact_features(
            pd.DataFrame({"fid": range(len(distinct)), "content": distinct}), cfg
        )
        self.feats = [feats[i] for i in range(len(distinct))]
        self._dup_cache: dict = {}
        self.true_pairs = [
            (a, b)
            for _, grp in truth.groupby("cluster_id")["fid"]
            for a, b in combinations(sorted(grp), 2)
            if self.dup(self.key[a], self.key[b])
        ]

    def dup(self, k1: int, k2: int) -> bool:
        if k1 == k2:
            return True
        pair = (k1, k2) if k1 < k2 else (k2, k1)
        hit = self._dup_cache.get(pair)
        if hit is None:
            (s1, w1), (s2, w2) = self.feats[k1], self.feats[k2]
            inter = len(s1 & s2)
            union = len(s1) + len(s2) - inter
            jac = 1.0 if union == 0 else inter / union
            hit = jac >= self.cfg.jaccard_threshold or bool(w1 & w2)
            self._dup_cache[pair] = hit
        return hit

    def _connected(self, keys: list) -> bool:
        seen, todo = {keys[0]}, [keys[0]]
        while todo:
            k = todo.pop()
            for j in keys:
                if j not in seen and self.dup(k, j):
                    seen.add(j)
                    todo.append(j)
        return len(seen) == len(keys)

    def check(self, labels: dict) -> Verdict:
        """Check one operation's fid -> component labels."""
        problems = []
        if labels.keys() != self.fids:
            problems.append(
                f"labelled {len(labels)} fids, input has {len(self.fids)}"
            )
        members = defaultdict(list)
        for f, c in labels.items():
            members[c].append(f)
        for comp, fids in members.items():
            if comp != min(fids):
                problems.append(f"component {comp[:12]} is not its min fid")
                break
        for comp, fids in members.items():
            keys = sorted({self.key[f] for f in fids if f in self.key})
            if len(keys) > 1 and not self._connected(keys):
                problems.append(
                    f"component {comp[:12]} merges contents the reference "
                    "rule does not connect"
                )
                break
        hits = sum(
            1 for a, b in self.true_pairs
            if a in labels and labels.get(a) == labels.get(b)
        )
        recall = hits / len(self.true_pairs) if self.true_pairs else 1.0
        if recall < MIN_RECALL:
            problems.append(f"dup_pair_recall {recall:.4f} < {MIN_RECALL}")
        return Verdict(recall=recall, problems=problems)
