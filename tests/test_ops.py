"""Tests for the training-data operators: textstats, dedup-over-documents,
similarity search, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from libpostal_spark.config import PipelineConfig
from libpostal_spark.functions import textstats as TS
from libpostal_spark.operators import dedup, multimodal, similarity
from libpostal_spark.pipeline import DedupPipeline


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "the quick brown fox and the lazy dog",
                "the quick brown fox and the lazy dog",   # exact dup of 0
                "el perro de la casa y el gato de la calle",
                "completely different words entirely here",
                "",
            ],
            "lang": ["en", "en", "es", "en", "en"],
            "source": ["s0", "s1", "s0", "s0", "s0"],
            "n_chars": [37, 37, 40, 40, 0],
        }
    )
    return spark.createDataFrame(pdf)


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n"] for r in docs.select("doc_id", TS.token_count(F.col("text")).alias("n")).collect()}
    assert got[0] == 8
    assert got[4] == 0


def test_exact_dup_groups(spark, docs):
    rows = dedup.exact_dup_groups(docs).collect()
    assert len(rows) == 1
    assert rows[0]["dup_count"] == 2
    assert rows[0]["canonical_doc_id"] == 0


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["l"] for r in docs.select("doc_id", TS.lang_id(F.col("text")).alias("l")).collect()}
    assert got[0] == "en"
    assert got[2] == "es"
    assert got[4] == "und"


def test_stopword_and_quality_bounds(spark, docs):
    rows = docs.select(
        TS.stopword_ratio(F.col("text")).alias("sr"),
        TS.quality_score(F.col("text")).alias("q"),
    ).collect()
    for r in rows:
        assert 0.0 <= r["sr"] <= 1.0
        assert 0.0 <= r["q"] <= 1.0


def test_fingerprint_ws_invariant(spark):
    df = spark.createDataFrame(
        [("a  b\tc",), ("A B C",), ("a b c",)], ["text"]
    ).select(TS.norm_fingerprint(F.col("text")).alias("fp"))
    fps = [r["fp"] for r in df.collect()]
    assert fps[0] == fps[1] == fps[2]


def test_ngram_jaccard_pairs(spark, docs):
    rows = {
        (r["doc_id1"], r["doc_id2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    assert rows[(0, 1)] == 1.0
    assert rows[(2, 3)] == 0.0


def test_minhash_clusters_docs(spark, docs):
    res = DedupPipeline(spark, PipelineConfig()).run(dedup.docs_as_files(docs))
    got = {r["doc_id"]: r["component"] for r in dedup.minhash_clusters(res).collect()}
    res.release()
    assert got[0] == got[1]          # exact dups share a component
    assert got[2] != got[3]


# ------------------------------------------------------------- similarity

@pytest.fixture(scope="module")
def embs(spark):
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    vecs[7] = vecs[0] * 2.0          # same direction as query → cos 1.0
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": [v.tolist() for v in vecs]}
    )
    return spark.createDataFrame(pdf), vecs


def test_brute_force_topk(spark, embs):
    df, vecs = embs
    top = similarity.brute_force_topk(df, [float(x) for x in vecs[0]], k=3).collect()
    assert {top[0]["vec_id"], top[1]["vec_id"]} == {0, 7}
    assert top[0]["cos_sim"] == 1.0 and top[1]["cos_sim"] == 1.0
    # exact agreement with numpy
    want = vecs.astype(np.float64) @ vecs[0].astype(np.float64)
    want = want / (np.linalg.norm(vecs.astype(np.float64), axis=1) * np.linalg.norm(vecs[0].astype(np.float64)))
    got3 = round(float(want[top[2]["vec_id"]]), 4)
    assert abs(top[2]["cos_sim"] - got3) < 1e-9


def test_lsh_topk_contains_identical(spark, embs):
    df, vecs = embs
    top = similarity.lsh_topk(df, [float(x) for x in vecs[0]], k=3, n_bits=8).collect()
    ids = [r["vec_id"] for r in top]
    assert 0 in ids and 7 in ids     # identical-direction vectors share every hyperplane sign


def test_lsh_topk_recall_vs_brute_force(spark):
    """Recall >= 0.9 against exact top-10 on the driver's sf0.001 embeddings
    (near-isotropic — the hard case), k results returned, via the same
    multi-table multi-probe config the harness query uses."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = {r["vec_id"] for r in similarity.brute_force_topk(embs, qvec, k=10).collect()}
    approx = similarity.lsh_topk(
        embs, qvec, k=10, n_tables=8, n_bits=4, multiprobe=1
    ).collect()
    assert len(approx) == 10
    got = {r["vec_id"] for r in approx}
    assert len(exact & got) >= 9


def test_lsh_topk_reuses_persisted_signatures(spark, embs):
    df, vecs = embs
    sigs = similarity.ann_signatures(df, dim=8, n_tables=4, n_bits=4).persist()
    q = [float(x) for x in vecs[0]]
    top = similarity.lsh_topk(
        df, q, k=3, n_tables=4, n_bits=4, signatures=sigs
    ).collect()
    assert {top[0]["vec_id"], top[1]["vec_id"]} == {0, 7}
    sigs.unpersist()


# ------------------------------------------------------------- multimodal

def test_media_decode_plumbing(spark):
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "kind": ["image", "image"],
            "payload": [b"abc", b""],
            "width": [4, 4],
            "height": [4, 4],
            "duration_ms": [0, 0],
        }
    )
    media = spark.createDataFrame(pdf)
    out = multimodal.decode_image_features(media, dim=4, fake=True)
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == 3 and rows[2]["n_bytes"] == 0
    assert len(rows[1]["feature"]) == 4
    # deterministic: same payload → same feature
    out2 = {r["media_id"]: r["feature"] for r in multimodal.decode_image_features(media, dim=4, fake=True).collect()}
    assert out2[1] == rows[1]["feature"]


def test_media_decode_real_path_raises(spark):
    pdf = pd.DataFrame(
        {"media_id": [1], "kind": ["image"], "payload": [b"x"],
         "width": [1], "height": [1], "duration_ms": [0]}
    )
    media = spark.createDataFrame(pdf)
    with pytest.raises(Exception):
        multimodal.decode_image_features(media, dim=4, fake=False).collect()


def test_cosine_pairs_threshold(spark, embs):
    df, vecs = embs
    out = similarity.cosine_pairs(df, threshold=0.99).collect()
    # vec 7 is vec 0 scaled: cos exactly 1.0 — must appear, ordered id1<id2
    got = {(r["vec_id1"], r["vec_id2"]): r["cos_sim"] for r in out}
    assert got[(0, 7)] == 1.0
    assert all(a < b for a, b in got)
    # exact agreement with numpy on the full universe at a lower threshold
    import numpy as np

    M = vecs.astype(np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    G = M @ M.T
    want = {
        (i, j)
        for i in range(len(M))
        for j in range(i + 1, len(M))
        if round(G[i, j], 4) >= 0.5
    }
    out2 = similarity.cosine_pairs(df, threshold=0.5).collect()
    assert {(r["vec_id1"], r["vec_id2"]) for r in out2} == want


def test_bpe_token_count_matches_python(spark):
    import re

    from libpostal_spark.functions.textstats import BPE_PATTERN, bpe_token_count

    texts = [
        "Hello world!",
        "it's we've they'll don't",
        "x=1; y+=2.5  # comment",
        "   leading and trailing   ",
        "",
        "CamelCase under_scores 123abc",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["n"] for r in df.select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(re.findall(BPE_PATTERN, t)), (t, got[i], re.findall(BPE_PATTERN, t))


def test_cosine_pairs_bucketed_no_collect_and_recall(spark, monkeypatch):
    """The scale path (n > MAX_EXACT_ROWS) must route to the bucketed
    LSH-candidate plan — zero driver-side collect, plain DataFrame lineage —
    and its surviving pairs must be a subset of the exact pairs with exact
    (re-ranked) scores; at a near-dup threshold recall should be high."""
    import numpy as np

    from libpostal_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    # plant 20 near-duplicates: small perturbations of the first 20 rows
    near = base[:20] + 0.05 * rng.standard_normal((20, 16)).astype(np.float32)
    vecs = np.vstack([base, near])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    # within the caps: the exact path, the reference for the checks below
    exact = {
        (r["vec_id1"], r["vec_id2"]): r["cos_sim"]
        for r in similarity.cosine_pairs(df, threshold=0.9).collect()
    }
    # force the bucketed route by setting the bound below n
    monkeypatch.setattr(similarity, "MAX_EXACT_ROWS", 10)
    out = similarity.cosine_pairs(df, threshold=0.9)
    # plan must be distributed DataFrame ops end-to-end: no driver-side
    # broadcast-matrix kernel (the exact path's MapInPandas), no local
    # relation built from collected rows, and the candidate self-join
    # shuffles on the LSH key column
    plan = out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        out._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" not in plan and "LocalTableScan" not in plan
    assert "hashpartitioning(key" in plan

    got = {(r["vec_id1"], r["vec_id2"]): r["cos_sim"] for r in out.collect()}
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert v == exact[k]          # re-rank is exact, not approximate
    planted = {(i, i + 40) for i in range(20)} & set(exact)
    assert planted, "test corpus should contain planted near-dup pairs"
    recall = len(set(got) & planted) / len(planted)
    assert recall >= 0.9, f"bucketed recall {recall}"


def test_cosine_pairs_zero_norm_guard(spark):
    """An all-zero embedding must yield cos 0 rows (never NaN) on both the
    exact and bucketed paths."""
    from libpostal_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    exact = similarity.cosine_pairs(df, threshold=0.5).collect()
    assert {(r["vec_id1"], r["vec_id2"]) for r in exact} == {(1, 2)}
    bucketed = similarity.cosine_pairs_bucketed(df, threshold=-1.0, dim=2).collect()
    sims = {(r["vec_id1"], r["vec_id2"]): r["cos_sim"] for r in bucketed}
    for pair, v in sims.items():
        assert v == v, f"NaN cos_sim for {pair}"
        if 0 in pair:
            assert v == 0.0


def test_ivf_topk_recall_on_clustered_data(spark):
    """IVF with a deterministic spherical-kmeans quantizer: on clustered
    data (its design regime) probing 2 of 8 lists must recover >= 0.9 of
    the exact top-10, with exact re-ranked scores."""
    import numpy as np

    from libpostal_spark.operators import similarity

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 4
    vecs, rows = [], []
    for i in range(240):
        c = centers[i % 8]
        v = c + 0.3 * rng.standard_normal(16)
        vecs.append(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mat = np.vstack(vecs)
    C = similarity.kmeans_centroids(mat, 8, iters=5, seed=42)

    q = [float(x) for x in vecs[0]]
    exact = {r["vec_id"] for r in similarity.brute_force_topk(df, q, k=10).collect()}
    got_rows = similarity.ivf_topk(df, q, C, nprobe=2, k=10).collect()
    got = {r["vec_id"] for r in got_rows}
    assert len(got & exact) >= 9, (got, exact)
    # re-ranked scores are exact (match the brute-force scores)
    bf = {r["vec_id"]: r["cos_sim"] for r in similarity.brute_force_topk(df, q, k=240).collect()}
    for r in got_rows:
        assert r["cos_sim"] == bf[r["vec_id"]]
    # signatures index: every vector lands in exactly one of 8 lists
    sig = similarity.ivf_signatures(df, C).collect()
    assert len(sig) == 240
    assert {r["list_id"] for r in sig} <= set(range(8))


def test_lang_id_trigram_classifier(spark):
    """The trigram profile classifier must recover the labels of clearly
    distinct languages on held-in data, label sub-trigram docs 'und', and
    be deterministic."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river", "en"),
        (1, "a different english sentence with many common words in it", "en"),
        (2, "el perro corre por la calle y el gato duerme en la casa", "es"),
        (3, "una frase espanola con palabras muy comunes para la prueba", "es"),
        (4, "der hund lauft durch die strasse und die katze schlaft dort", "de"),
        (5, "ein weiterer deutscher satz mit vielen haufigen wortern darin", "de"),
        (6, "ab", "en"),                       # too short for a trigram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r["lang_pred"] for r in TS.lang_id_trigram(docs).collect()}
    assert got[6] == "und"
    for i in range(6):
        assert got[i] == rows[i][2], (i, got[i])
    got2 = {r["doc_id"]: r["lang_pred"] for r in TS.lang_id_trigram(docs).collect()}
    assert got == got2


def test_lang_id_trigram_string_ids(spark):
    """Code-review r3: non-numeric doc ids must keep their votes (no silent
    long-cast nulling)."""
    rows = [
        ("doc-a", "the quick brown fox and the lazy dog in the field", "en"),
        ("doc-b", "el perro corre por la calle y el gato en la casa", "es"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    got = {r["doc_id"]: r["lang_pred"] for r in TS.lang_id_trigram(docs).collect()}
    assert got == {"doc-a": "en", "doc-b": "es"}


def test_embedding_clusters_transitive(spark):
    """a~b and b~c cluster together even when a!~c (transitive closure);
    unrelated vectors stay singletons labeled by their own id."""
    import numpy as np

    from libpostal_spark.operators import similarity

    a = np.array([1.0, 0.0])
    b = np.array([np.cos(0.3), np.sin(0.3)])     # ~a (cos 0.955)
    c = np.array([np.cos(0.6), np.sin(0.6)])     # ~b, not ~a at 0.93
    d = np.array([0.0, 1.0])                      # unrelated
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate([a, b, c, d])],
        "vec_id long, embedding array<float>",
    )
    pairs = similarity.cosine_pairs(df, threshold=0.93)
    got = {
        r["vec_id"]: (r["component"], r["is_canonical"])
        for r in similarity.embedding_clusters(df, pairs).collect()
    }
    assert got[0][0] == got[1][0] == got[2][0] == 0
    assert got[0][1] is True and got[1][1] is False
    assert got[3] == (3, True)


def test_brute_force_topk_zero_vector_not_ranked_first(spark):
    """A zero embedding must score cos 0.0, not NaN (Spark orders NaN above
    every real double, which would put it at rank 1 of every top-k)."""
    from libpostal_spark.operators.similarity import brute_force_topk

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = brute_force_topk(df, [1.0, 0.0], k=3).collect()
    assert got[0]["vec_id"] == 0
    by_id = {r["vec_id"]: r["cos_sim"] for r in got}
    assert by_id[2] == 0.0
    assert got[-1]["vec_id"] == 2          # zero vector ranks LAST


def test_ngram_jaccard_null_text_not_perfect_dup(spark):
    from libpostal_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(0, "alpha beta"), (1, None), (2, "alpha beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id1"], r["doc_id2"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df).collect()}
    assert got[(0, 1)] == 0.0              # NULL = empty set, not jaccard 1
    assert got[(1, 2)] == 0.0


def test_acronym_multiword_null_text_zero_counts(spark):
    from libpostal_spark.operators.dedup import (
        _mw_tokens_expr, acronym_pairs, multiword_alignments)

    rows = [(0, "fbi agency"), (1, None), (2, "sea world")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    acr = {r["doc_id1"]: r["n_acronyms"] for r in acronym_pairs(df).collect()}
    # the multiword_alignments query's token arrays, NULL text on each side
    toks = df.select("doc_id", F.expr(_mw_tokens_expr("text")).alias("t"))
    pairs = toks.alias("a").crossJoin(toks.alias("b")).select(
        F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
    mw = [r["n"] for r in multiword_alignments(pairs).select(
        F.size("mw_alignments").alias("n")).collect()]
    assert all(v >= 0 for v in acr.values()), acr
    assert len(mw) == 9 and all(v >= 0 for v in mw), mw


def test_multiword_fragment_empty_long_side(spark):
    """The exported SQL fragment must not throw on an empty long side
    (sequence(0,-1) would step through element_at(col, 0))."""
    from pyspark.sql import functions as F

    from libpostal_spark.operators.dedup import multiword_alignment_expr

    df = spark.createDataFrame(
        [(["seaworld"], [])], "s array<string>, l array<string>"
    )
    out = df.select(
        F.expr(multiword_alignment_expr("s", "l")).alias("a")
    ).collect()
    assert out[0]["a"] == []


def test_cosine_pairs_lsh_empty_frame(spark):
    from libpostal_spark.operators.similarity import cosine_pairs_bucketed

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    got = cosine_pairs_bucketed(empty, 0.5)
    assert got.count() == 0
    assert set(got.columns) == {"vec_id1", "vec_id2", "cos_sim"}


def test_with_ids_null_fields_distinct(spark):
    """concat_ws skips NULLs — per-field coalesce must keep (r,NULL,c) and
    (NULL,r,c) as DIFFERENT fids."""
    from libpostal_spark.operators import blocking

    rows = [("r", None, "c", "py", "x"), (None, "r", "c", "py", "x")]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    fids = [r["fid"] for r in blocking.with_ids(df).collect()]
    assert fids[0] != fids[1]


def test_lang_id_trigram_null_label_excluded(spark):
    """A NULL lang label must not enter the trigram fit (it previously
    became a None totals key / a NULL model language)."""
    from libpostal_spark.functions.textstats import lang_id_trigram

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "der schnelle braune fuchs springt darueber", "de"),
        (2, "some unlabeled text that looks quite english", None),
        (3, "the dog sleeps under the warm table there", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r["lang_pred"]
           for r in lang_id_trigram(df).collect()}
    assert set(got.values()) <= {"en", "de", "und"}   # never NULL
    assert got[0] == "en"
