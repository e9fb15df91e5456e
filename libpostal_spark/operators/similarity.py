"""Similarity search over embedding columns (array<float>).

Two paths, per the training-data-pipeline requirement:

* ``brute_force_topk`` — exact cosine top-k as a pure column expression
  (``zip_with`` dot product + ``aggregate`` fold), fully JVM-side. The
  correctness baseline; O(n) per query, broadcast the query vector.
* ``lsh_topk`` — multi-table random-hyperplane LSH (the vector analog of the
  engine's SimHash table keys, core/hashing.py simhash_table_keys): T tables
  of b sign bits each; a row is a candidate when ANY table key is within
  Hamming distance ``multiprobe`` of the query's key; exact cosine re-rank on
  candidates only.

Recall contract (Goemans–Williamson: P[sign agree] = 1 - θ/π):
  P(candidate) = 1 - (1 - Σ_{i<=m} C(b,i) p^(b-i) (1-p)^i)^T,  p = 1 - θ/π.
The sandbox embeddings are near-isotropic (top-1 neighbor cos ≈ 0.33, p ≈
0.60), so the defaults (T=8, b=4, multiprobe=1 → recall ≈ 0.99, candidate
fraction ≈ 0.9 at n=500) are recall-oriented and the bucket filter prunes
little — that is a property of THIS corpus, not the operator. At the real
design point (near-dup mining, neighbor cos >= 0.9 → p ≈ 0.86, corpus 10^9)
you run b=16, T=8, multiprobe=1: per-table candidate mass 17/65536 ≈ 0.03%
and recall ≈ 0.97. Signatures are computed once by ``ann_signatures`` and
persisted/bucketed by key at scale; the probe is then a key-lookup join, not
a scan. tests/test_ops.py asserts recall >= 0.9 vs brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cos_expr(vec_col: str, qvec: list[float]) -> F.Column:
    """cosine(embedding, q) as a sequential double fold (oracle-replicable).

    Zero-norm-safe like every other cosine path in this module: a zero
    vector scores 0.0 — without the guard 0/0 = NaN, which Spark orders
    ABOVE every real double, so a zero embedding would sit at rank 1 of
    every top-k."""
    q = F.array(*[F.lit(float(x)).cast("double") for x in qvec])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, q, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(F.transform(v, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x))
    nq = float(np.sqrt(np.sum(np.asarray(qvec, dtype=np.float64) ** 2)))
    if nq == 0.0:
        return F.lit(0.0)
    return F.when(na > 0, dot / (na * F.lit(nq))).otherwise(F.lit(0.0))


def brute_force_topk(
    embeddings: DataFrame, qvec: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k: (vec_id, cos_sim rounded to 4dp), deterministic order."""
    scored = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(_cos_expr("embedding", qvec), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


# broadcasts created by cosine_pairs' exact path, so a long session issuing
# many calls can release executor/driver blocks once the returned frames are
# consumed (each pair pins up to MAX_EXACT_BYTES on every executor)
_EXACT_BROADCASTS: list = []


def release_exact_broadcasts() -> int:
    """Unpersist every broadcast the exact cosine path has created. Call
    only after the frames returned by those calls are fully consumed — a
    still-unconsumed frame would recompute against a destroyed broadcast."""
    n = len(_EXACT_BROADCASTS)
    for b in _EXACT_BROADCASTS:
        try:
            b.unpersist(blocking=False)
        except Exception:
            pass   # session may already be gone
    _EXACT_BROADCASTS.clear()
    return n


# exact-path caps: above either one, cosine_pairs routes to the bucketed
# path. The broadcast matrix (rows × dim × 8 bytes on every executor) is
# the exact path's real cost, so bytes are capped beside rows.
MAX_EXACT_ROWS = 200_000
MAX_EXACT_BYTES = 256 << 20


def cosine_pairs(embeddings: DataFrame, threshold: float) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id1 < id2, cos_sim) with
    cos >= threshold.

    The strategy follows the corpus size, read by ONE agg (row count + max
    dim) and checked against two caps: ``MAX_EXACT_ROWS`` and
    ``MAX_EXACT_BYTES`` on the broadcast estimate rows × dim × 8 (200k
    rows of dim-64 vectors broadcast ~100 MB, but the same rows at dim
    1536 would be ~2.4 GB and route to the bucketed path). Crossing a cap
    emits a ``UserWarning``, because the result turns from exact to
    approximate (pairs sharing no LSH table key are dropped), so the
    switch is never silent.

    Two physical strategies:

    * within both caps — EXACT over the full pair universe: broadcast the
      normalized embedding matrix and score each partition's rows against it
      with one BLAS matmul inside mapInPandas (O(n²) flops at
      memory-bandwidth speed; a JVM zip_with/aggregate fold computes the
      same thing ~1000× slower). This is the oracle-checkable baseline.
    * above a cap — BUCKETED (the 100 TB path, zero driver-side
      data): candidates are pairs sharing >= 1 ``ann_signatures``
      hyperplane-LSH table key (a distributed self-join on the key column),
      exact-cosine re-ranked by a vectorized pair UDF. Approximate by
      construction — recall is the multi-table sign-LSH bound documented in
      the module docstring — and never collects, broadcasts, or buckets
      more than one LSH bucket's pairs per task.
    """
    r = embeddings.agg(
        F.count("*").alias("n"), F.max(F.size("embedding")).alias("d")
    ).collect()[0]
    n_rows, dim = int(r["n"]), int(r["d"] or 0)
    est_bytes = n_rows * dim * 8
    if n_rows > MAX_EXACT_ROWS or est_bytes > MAX_EXACT_BYTES:
        reason = (
            f"{n_rows} rows > MAX_EXACT_ROWS={MAX_EXACT_ROWS}"
            if n_rows > MAX_EXACT_ROWS
            else f"broadcast estimate {est_bytes >> 20} MB (rows×dim×8) > "
            f"MAX_EXACT_BYTES={MAX_EXACT_BYTES >> 20} MB"
        )
        import warnings

        warnings.warn(
            f"cosine_pairs: {reason}; routing to the APPROXIMATE "
            "LSH-bucketed path (pairs sharing no LSH table key are "
            "dropped).",
            UserWarning,
            stacklevel=2,
        )
        return cosine_pairs_bucketed(embeddings, threshold, dim=dim)

    rows = embeddings.select(F.col("vec_id").cast("long"), "embedding").collect()
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat /= np.where(norms == 0, 1.0, norms)   # zero vectors score cos 0
    sc = embeddings.sparkSession.sparkContext
    b_ids, b_mat = sc.broadcast(ids), sc.broadcast(mat)
    _EXACT_BROADCASTS.extend((b_ids, b_mat))

    def score(batches):
        import pandas as pd

        all_ids, all_mat = b_ids.value, b_mat.value
        for pdf in batches:
            out_1, out_2, out_c = [], [], []
            for vid, emb in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.array(emb, dtype=np.float64)   # copy: Arrow buffers are read-only
                nv = np.linalg.norm(v)
                v /= nv if nv else 1.0
                sims = np.round(all_mat @ v, 4)
                mask = (all_ids > vid) & (sims >= threshold)
                js = np.nonzero(mask)[0]
                out_1.extend([vid] * len(js))
                out_2.extend(all_ids[js].tolist())
                out_c.extend(sims[js].tolist())
            yield pd.DataFrame(
                {"vec_id1": out_1, "vec_id2": out_2, "cos_sim": out_c}
            )

    return embeddings.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding").mapInPandas(
        score, schema="vec_id1 long, vec_id2 long, cos_sim double"
    )


def make_pair_cosine_udf():
    """(embedding1, embedding2) -> exact cosine, 4dp, zero-norm-safe.
    Arrow-batched BLAS row-wise dot — the re-rank kernel for bucketed pairs."""

    @F.pandas_udf(T.DoubleType())
    def pair_cos(e1: pd.Series, e2: pd.Series) -> pd.Series:
        a = np.vstack(e1.to_numpy()).astype(np.float64)
        b = np.vstack(e2.to_numpy()).astype(np.float64)
        na = np.linalg.norm(a, axis=1)
        nb = np.linalg.norm(b, axis=1)
        denom = na * nb
        sims = np.einsum("ij,ij->i", a, b) / np.where(denom == 0, 1.0, denom)
        return pd.Series(np.round(sims, 4))

    return pair_cos


def cosine_pairs_bucketed(
    embeddings: DataFrame, threshold: float, dim: int | None = None
) -> DataFrame:
    """Distributed near-dup pair mining: shared-LSH-key candidate self-join
    (8 tables of 4 sign bits, seed 42 — the ``lsh_topk`` defaults) + exact
    cosine re-rank. No driver-side collect anywhere in the plan — the
    candidate stream shuffles on the 16-byte key, the re-rank joins shuffle
    on the id. At 10^9 rows you persist ``ann_signatures`` bucketed by key
    and both joins co-locate."""
    if dim is None:
        row = embeddings.select("embedding").first()
        if row is None or row["embedding"] is None:
            # empty (or null-first) frame: the exact path returns an empty
            # pairs frame here too — match it instead of crashing on len()
            return embeddings.sparkSession.createDataFrame(
                [], "vec_id1 long, vec_id2 long, cos_sim double"
            )
        dim = len(row["embedding"])
    emb = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    sigs = ann_signatures(emb, dim, n_tables=8, n_bits=4, seed=42)
    a = sigs.select(F.col("vec_id").alias("vec_id1"), "key")
    b = sigs.select(F.col("vec_id").alias("vec_id2"), "key")
    cands = (
        a.join(b, "key")
        .filter(F.col("vec_id1") < F.col("vec_id2"))
        .select("vec_id1", "vec_id2")
        .distinct()
    )
    e1 = emb.select(F.col("vec_id").alias("vec_id1"), F.col("embedding").alias("e1"))
    e2 = emb.select(F.col("vec_id").alias("vec_id2"), F.col("embedding").alias("e2"))
    pair_cos = make_pair_cosine_udf()
    return (
        cands.join(e1, "vec_id1")
        .join(e2, "vec_id2")
        .withColumn("cos_sim", pair_cos(F.col("e1"), F.col("e2")))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_id1", "vec_id2", "cos_sim")
    )


def hyperplane_planes(dim: int, n_tables: int, n_bits: int, seed: int = 42) -> np.ndarray:
    """Seeded Gaussian hyperplanes, shape (dim, n_tables*n_bits).

    Deterministic given (dim, n_tables, n_bits, seed) so the DuckDB oracle
    can embed the identical planes as SQL literals.
    """
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_tables * n_bits))


def signature_keys(mat: np.ndarray, planes: np.ndarray, n_tables: int, n_bits: int) -> np.ndarray:
    """(n, dim) float -> (n, n_tables) int64 table keys: (t << n_bits) | bits."""
    bits = (np.asarray(mat, dtype=np.float64) @ planes) > 0       # (n, T*b)
    weights = (1 << np.arange(n_bits)).astype(np.int64)
    packed = bits.reshape(len(mat), n_tables, n_bits).astype(np.int64) @ weights
    return packed + (np.arange(n_tables, dtype=np.int64) << n_bits)


def make_table_keys_udf(dim: int, n_tables: int, n_bits: int, seed: int = 42):
    """embedding -> array<long> of n_tables LSH keys (Arrow-batched)."""
    planes = hyperplane_planes(dim, n_tables, n_bits, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def keys_udf(col: pd.Series) -> pd.Series:
        mat = np.vstack(col.to_numpy())
        keys = signature_keys(mat, planes, n_tables, n_bits)
        return pd.Series(list(keys))

    return keys_udf


def ann_signatures(
    embeddings: DataFrame,
    dim: int,
    n_tables: int = 8,
    n_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """One (id, key) row per table per vector — the persistable ANN index.

    At scale: write this once, bucketed/partitioned BY key, so every probe is
    a pruned key-lookup instead of a table scan; signatures are ~16 bytes/row
    × n_tables regardless of embedding dim.
    """
    keys_udf = make_table_keys_udf(dim, n_tables, n_bits, seed)
    return embeddings.select(
        F.col("vec_id"), F.explode(keys_udf(F.col("embedding"))).alias("key")
    )


def probe_keys(
    qvec: list[float], n_tables: int, n_bits: int, seed: int = 42, multiprobe: int = 1
) -> list[int]:
    """The query's table keys plus all keys within `multiprobe` bit flips."""
    planes = hyperplane_planes(len(qvec), n_tables, n_bits, seed)
    base = signature_keys(np.asarray([qvec]), planes, n_tables, n_bits)[0]
    probes = set(int(x) for x in base)
    frontier = set(probes)
    for _ in range(multiprobe):
        nxt = set()
        for key in frontier:
            for j in range(n_bits):
                nxt.add(key ^ (1 << j))
        probes |= nxt
        frontier = nxt
    return sorted(probes)


def embedding_clusters(embeddings: DataFrame, pairs: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate CLUSTERING: ``pairs`` (a
    ``cosine_pairs`` frame over ``embeddings``, ideally persisted) →
    connected components → (vec_id, component, is_canonical), the embedding
    analog of the MinHash pipeline's cluster output (component = numeric
    min vec_id of the component; singletons label themselves). CC routes
    driver/distributed by edge count in ``cluster.components``."""
    from . import cluster

    labels = cluster.components(pairs.select(
        F.col("vec_id1").alias("fid1"), F.col("vec_id2").alias("fid2")
    ))
    out = cluster.label_universe(
        labels, embeddings.select(F.col("vec_id").cast("long").alias("fid"))
    )
    return out.select(
        F.col("fid").alias("vec_id"),
        "component",
        (F.col("fid") == F.col("component")).alias("is_canonical"),
    )


def kmeans_centroids(
    mat: np.ndarray, k: int, iters: int = 5, seed: int = 42
) -> np.ndarray:
    """Deterministic spherical k-means for IVF coarse quantization.

    Seeded init (k distinct rows), FIXED iteration count, no data-dependent
    convergence checks — full determinism is the contract, because the SQL
    oracle embeds the FINAL centroids as literals and replays assignment.
    Centroids are L2-normalized, so argmax(v·c_j) == argmax cos(v, c_j)
    without normalizing v. At corpus scale you fit on a driver-side sample
    (~100k rows); assignment itself is distributed.
    """
    m = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    mn = m / np.where(norms == 0, 1.0, norms)
    rng = np.random.default_rng(seed)
    C = mn[rng.choice(len(mn), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(mn @ C.T, axis=1)
        for j in range(k):
            members = mn[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / n
    return C


def make_ivf_assign_udf(centroids: np.ndarray):
    """embedding -> list_id (argmax dot with the normalized centroids;
    numpy argmax picks the FIRST max — ties break toward lower list ids,
    matching the oracle's ascending CASE scan)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def assign_udf(col: pd.Series) -> pd.Series:
        mat = np.vstack(col.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(mat @ C.T, axis=1).astype(np.int32))

    return assign_udf


def ivf_signatures(embeddings: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(id, list_id) — the IVF inverted index. At scale: write once,
    partitioned/bucketed BY list_id, so a probe prunes to nprobe lists."""
    assign_udf = make_ivf_assign_udf(centroids)
    return embeddings.select(
        F.col("vec_id"), assign_udf(F.col("embedding")).alias("list_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    qvec: list[float],
    centroids: np.ndarray,
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe closest inverted lists, exact
    cosine re-rank on their members — the classic alternative to sign-LSH
    when the corpus clusters well. recall/nprobe trade documented by the
    recall test in tests/test_ops.py."""
    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(qvec, dtype=np.float64)
    scores = C @ q
    order = np.argsort(-scores, kind="stable")
    probes = [int(x) for x in order[:nprobe]]
    sigs = ivf_signatures(embeddings, centroids)
    cands = sigs.filter(F.col("list_id").isin(probes)).select("vec_id")
    return brute_force_topk(embeddings.join(cands, "vec_id"), qvec, k)


def lsh_topk(
    embeddings: DataFrame,
    qvec: list[float],
    k: int = 10,
    n_tables: int = 8,
    n_bits: int = 4,
    multiprobe: int = 1,
    seed: int = 42,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: multi-table multi-probe prefilter + exact re-rank.

    Pass a persisted ``ann_signatures`` frame via `signatures` to amortize
    signature computation across queries (the scale path); otherwise it is
    derived inline for a one-shot query.
    """
    sigs = signatures
    if sigs is None:
        sigs = ann_signatures(embeddings, len(qvec), n_tables, n_bits, seed)
    probes = probe_keys(qvec, n_tables, n_bits, seed, multiprobe)
    cands = sigs.filter(F.col("key").isin(probes)).select("vec_id").distinct()
    return brute_force_topk(embeddings.join(cands, "vec_id"), qvec, k)
