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
    embeddings: DataFrame, qvec: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k: (vec_id, cos_sim rounded to 4dp), deterministic order."""
    scored = embeddings.select(
        F.col(id_col).cast("long").alias(id_col),
        F.round(_cos_expr("embedding", qvec), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


# broadcasts created by cosine_pairs' exact path, so a long session issuing
# many calls can release executor/driver blocks once the returned frames are
# consumed (each pair pins up to max_exact_bytes on every executor)
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


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    max_exact_rows: int = 200_000,
    n_rows: int | None = None,
    dim: int | None = None,
    n_tables: int = 8,
    n_bits: int = 4,
    seed: int = 42,
    method: str = "auto",
    max_exact_bytes: int = 256 << 20,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id1 < id2, cos_sim) with
    cos >= threshold.

    ``method`` makes the exact/approximate contract explicit:

    * ``"exact"`` — always the exact path; raises ValueError above the
      exact-path caps instead of degrading recall behind the caller's back.
    * ``"lsh"`` — always the bucketed approximate path.
    * ``"auto"`` (default) — route by corpus size as below, emitting a
      ``UserWarning`` when a cap flips the result from exact to
      approximate (pairs sharing no LSH table key are dropped), so the
      switch is never silent.

    The exact path's real cost is the broadcast matrix — rows × dim × 8
    bytes shipped to every executor — so routing gates on BOTH the row cap
    and ``max_exact_bytes`` (256 MB default): 200k rows of dim-64 vectors
    broadcast ~100 MB, but the same rows at dim 1536 would be ~2.4 GB and
    route to the bucketed path.

    Two physical strategies:

    * within both caps — EXACT over the full pair universe: broadcast the
      normalized embedding matrix and score each partition's rows against it
      with one BLAS matmul inside mapInPandas (O(n²) flops at
      memory-bandwidth speed; a JVM zip_with/aggregate fold computes the
      same thing ~1000× slower). This is the oracle-checkable baseline.
    * n > max_exact_rows — BUCKETED (the 100 TB path, zero driver-side
      data): candidates are pairs sharing >= 1 ``ann_signatures``
      hyperplane-LSH table key (a distributed self-join on the key column),
      exact-cosine re-ranked by a vectorized pair UDF. Approximate by
      construction — recall is the multi-table sign-LSH bound documented in
      the module docstring — and never collects, broadcasts, or buckets
      more than one LSH bucket's pairs per task.

    Pass n_rows to skip the routing count (the byte gate then only engages
    if dim is also passed — no hidden action is ever run for a caller that
    supplied n_rows); dim is otherwise discovered by the same single agg,
    and the LSH path needs it for the plane shapes before any action.
    """
    if method not in ("auto", "exact", "lsh"):
        raise ValueError(f"cosine_pairs: unknown method {method!r}")
    if method == "lsh":
        return cosine_pairs_bucketed(
            embeddings, threshold, id_col=id_col, dim=dim,
            n_tables=n_tables, n_bits=n_bits, seed=seed,
        )
    if n_rows is None:
        # one action covers both routing inputs (count + max dim)
        r = embeddings.agg(
            F.count("*").alias("n"), F.max(F.size("embedding")).alias("d")
        ).collect()[0]
        n_rows = int(r["n"])
        if dim is None:
            dim = int(r["d"] or 0)
    # callers that pass n_rows do so to SKIP the routing action — honor
    # that: without a known dim the byte gate simply doesn't engage (the
    # row cap still does); pass dim to arm it action-free
    est_bytes = n_rows * (dim or 0) * 8
    if n_rows > max_exact_rows or est_bytes > max_exact_bytes:
        reason = (
            f"{n_rows} rows > max_exact_rows={max_exact_rows}"
            if n_rows > max_exact_rows
            else f"broadcast estimate {est_bytes >> 20} MB (rows×dim×8) > "
            f"max_exact_bytes={max_exact_bytes >> 20} MB"
        )
        if method == "exact":
            raise ValueError(
                f"cosine_pairs(method='exact'): {reason}; use method='lsh' "
                "(or raise the cap) — refusing to silently degrade recall"
            )
        import warnings

        warnings.warn(
            f"cosine_pairs: {reason}; routing to the APPROXIMATE "
            "LSH-bucketed path (pairs sharing no LSH table key are "
            "dropped). Pass method='exact'/'lsh' to pin the strategy.",
            UserWarning,
            stacklevel=2,
        )
        return cosine_pairs_bucketed(
            embeddings, threshold, id_col=id_col, dim=dim,
            n_tables=n_tables, n_bits=n_bits, seed=seed,
        )

    rows = embeddings.select(F.col(id_col).cast("long"), "embedding").collect()
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
            for vid, emb in zip(pdf[id_col], pdf["embedding"]):
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

    return embeddings.select(F.col(id_col).cast("long").alias(id_col), "embedding").mapInPandas(
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
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    dim: int | None = None,
    n_tables: int = 8,
    n_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Distributed near-dup pair mining: shared-LSH-key candidate self-join +
    exact cosine re-rank. No driver-side collect anywhere in the plan — the
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
        F.col(id_col).cast("long").alias(id_col), "embedding"
    )
    sigs = ann_signatures(emb, dim, n_tables, n_bits, seed, id_col)
    a = sigs.select(F.col(id_col).alias("vec_id1"), "key")
    b = sigs.select(F.col(id_col).alias("vec_id2"), "key")
    cands = (
        a.join(b, "key")
        .filter(F.col("vec_id1") < F.col("vec_id2"))
        .select("vec_id1", "vec_id2")
        .distinct()
    )
    e1 = emb.select(F.col(id_col).alias("vec_id1"), F.col("embedding").alias("e1"))
    e2 = emb.select(F.col(id_col).alias("vec_id2"), F.col("embedding").alias("e2"))
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
    id_col: str = "vec_id",
) -> DataFrame:
    """One (id, key) row per table per vector — the persistable ANN index.

    At scale: write this once, bucketed/partitioned BY key, so every probe is
    a pruned key-lookup instead of a table scan; signatures are ~16 bytes/row
    × n_tables regardless of embedding dim.
    """
    keys_udf = make_table_keys_udf(dim, n_tables, n_bits, seed)
    return embeddings.select(
        F.col(id_col), F.explode(keys_udf(F.col("embedding"))).alias("key")
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


def embedding_clusters(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    max_exact_rows: int = 200_000,
    cc_driver_max_edges: int = 2_000_000,
    n_rows: int | None = None,
    dim: int | None = None,
    method: str = "auto",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate CLUSTERING: cosine_pairs edges →
    connected components → (vec_id, component, is_canonical), the embedding
    analog of the MinHash pipeline's cluster output (component = min vec_id
    of the component; singletons label themselves).

    Pairs route exact/bucketed by corpus size exactly like cosine_pairs;
    CC routes driver/distributed by edge count like the main pipeline.
    Pass ``pairs`` (an already-computed — ideally persisted — cosine_pairs
    frame for the same embeddings/threshold) to reuse it instead of
    re-scoring the corpus."""
    from . import cluster

    if pairs is None:
        pairs = cosine_pairs(
            embeddings, threshold, id_col=id_col,
            max_exact_rows=max_exact_rows,
            n_rows=n_rows, dim=dim, method=method,
        )
    pairs = pairs.select(
        F.col("vec_id1").cast("string").alias("fid1"),
        F.col("vec_id2").cast("string").alias("fid2"),
    )
    # route with ONE action (the pipeline.py / geo.py pattern):
    # limit(max+1).collect() both counts and fetches the edges — the former
    # count-then-collect pair executed the unpersisted pair-scoring plan
    # TWICE. Oversized edge sets (rare: the near-dup graph is sparse) fall
    # back to the distributed loop, which re-executes once — exactly what
    # the old count path did.
    edge_rows = pairs.limit(cc_driver_max_edges + 1).collect()
    if len(edge_rows) <= cc_driver_max_edges:
        labels = cluster.union_find_rows(edge_rows, embeddings.sparkSession,
                                         id_type="string")
    else:
        labels = cluster.connected_components(pairs)
    # string CC labels order lexicographically; re-derive the numeric min
    # per component so the contract is numeric-min vec_id
    lab = labels.select(
        F.col("fid").cast("long").alias(id_col),
        F.col("component").alias("comp_str"),
    )
    comp_min = lab.groupBy("comp_str").agg(
        F.min(id_col).alias("component")
    )
    labeled = lab.join(comp_min, "comp_str").select(id_col, "component")
    return (
        embeddings.select(F.col(id_col).cast("long").alias(id_col))
        .join(labeled, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("component"))
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


def ivf_signatures(
    embeddings: DataFrame, centroids: np.ndarray, id_col: str = "vec_id"
) -> DataFrame:
    """(id, list_id) — the IVF inverted index. At scale: write once,
    partitioned/bucketed BY list_id, so a probe prunes to nprobe lists."""
    assign_udf = make_ivf_assign_udf(centroids)
    return embeddings.select(
        F.col(id_col), assign_udf(F.col("embedding")).alias("list_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    qvec: list[float],
    centroids: np.ndarray,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
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
    sigs = ivf_signatures(embeddings, centroids, id_col)
    cands = sigs.filter(F.col("list_id").isin(probes)).select(id_col)
    return brute_force_topk(embeddings.join(cands, id_col), qvec, k, id_col)


def lsh_topk(
    embeddings: DataFrame,
    qvec: list[float],
    k: int = 10,
    n_tables: int = 8,
    n_bits: int = 4,
    multiprobe: int = 1,
    id_col: str = "vec_id",
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
        sigs = ann_signatures(embeddings, len(qvec), n_tables, n_bits, seed, id_col)
    probes = probe_keys(qvec, n_tables, n_bits, seed, multiprobe)
    cands = sigs.filter(F.col("key").isin(probes)).select(id_col).distinct()
    return brute_force_topk(embeddings.join(cands, id_col), qvec, k, id_col)
