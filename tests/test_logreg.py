"""Trained multinomial logistic-regression language classifier
(functions/logreg.py — reference analog src/language_classifier.c,
src/logistic_regression.c, src/ftrl.c)."""

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from libpostal_spark.functions import logreg as LR  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def decorated_pdf():
    pdf = pq.read_table(
        os.path.join(SF, "documents.parquet"),
        columns=["doc_id", "text", "lang"],
    ).to_pandas()
    return E._langid_decorate_pdf(pdf)


def test_fit_spark_bit_equals_fit_local(spark, decorated_pdf):
    """fit_spark on a 7-partition Spark frame (the ordered sample collect
    + fit_local) produces IDENTICAL int64 weights to fit_local on the
    pandas table: the collected sample does not depend on partitioning.
    This is the property the DuckDB oracle twin stands on."""
    local = LR.fit_local(decorated_pdf)
    sdf = E._langid_decorated(spark, SF).repartition(7)  # odd partitioning
    dist = LR.fit_spark(sdf)
    assert dist.vocab == local.vocab
    assert dist.classes == local.classes
    assert np.array_equal(dist.W_int, local.W_int)
    assert np.array_equal(dist.b_int, local.b_int)


def test_logreg_learns_injected_labels(spark, decorated_pdf):
    """On the marker-decorated corpus (a genuinely separable task — the
    native sf labels carry no text signal) the trained classifier must
    essentially solve it; the untrained prior baseline is 0.2."""
    local = LR.fit_local(decorated_pdf)
    sdf = E._langid_decorated(spark, SF)
    pred = LR.predict_spark(sdf, local).toPandas().set_index("doc_id")
    truth = decorated_pdf.set_index("doc_id")["lang"]
    acc = (pred["lang_pred"].reindex(truth.index) == truth).mean()
    assert acc >= 0.95, f"logreg accuracy {acc:.3f} < 0.95"


def test_per_doc_kernel_deterministic(decorated_pdf):
    """Same (x, W, b) → same quantized error bits, independent of the
    surrounding batch (the property that lets executors and the twin
    builder agree)."""
    m = LR.fit_local(decorated_pdf)
    vidx = {t: i for i, t in enumerate(m.vocab)}
    x = LR.normalize_features(
        LR.doc_features(decorated_pdf["text"].iloc[0], vidx, len(m.vocab))
    )
    a = LR.doc_error_int(x, 1, m.W_int, m.b_int)
    b = LR.doc_error_int(x.copy(), 1, m.W_int.copy(), m.b_int.copy())
    assert np.array_equal(a, b)


def test_short_text_and_empty_vocab_paths(spark):
    """Docs shorter than 3 chars featurize to all-zero x and predict the
    bias fallback; prediction never fabricates trigrams from descending
    sequences."""
    pdf = pq.read_table(
        os.path.join(SF, "documents.parquet"),
        columns=["doc_id", "text", "lang"],
    ).to_pandas()
    deco = E._langid_decorate_pdf(pdf)
    m = LR.fit_local(deco)
    sdf = spark.createDataFrame(
        [(1, "ab"), (2, "")], "doc_id long, text string"
    )
    out = LR.predict_spark(sdf, m).toPandas()
    assert set(out["lang_pred"]) == {m.bias_pred}
    assert len(out) == 2

