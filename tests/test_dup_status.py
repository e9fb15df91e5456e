"""Duplicate-status grading: the 4-level enum of the reference's dedupe API.

Golden expectations mirror the reference's binding tests
(/root/reference/src/libpostal.h:218-224 enum; thresholds 0.9/0.7 at
/root/reference/src/libpostal.c:185-193): identical content grades EXACT,
high-Jaccard variants grade LIKELY, borderline overlap grades NEEDS_REVIEW,
and dissimilar pairs never appear.
"""

import pytest
from pyspark.sql import functions as F

from libpostal_spark.config import PipelineConfig
from libpostal_spark.operators import dedup, verify

BASE = " ".join(f"token{i} filler{i}" for i in range(30))          # 60 tokens
NEAR = BASE + " extra trailing bit"                                # j >= 0.9
# shares a 52-token prefix with BASE, diverges after: shingle jaccard
# = (52-4)/(2*56-(52-4)) = 48/64 = 0.75 — inside [0.7, 0.9)
BORDER = " ".join(f"token{i} filler{i}" for i in range(26)) + " " + " ".join(
    f"other{i} words{i}" for i in range(4)
)
DIFFERENT = " ".join(f"unrelated{i} stuff{i}" for i in range(30))


@pytest.fixture(scope="module")
def status_pairs(spark):
    docs = spark.createDataFrame(
        [
            (0, BASE, "en", "s"),
            (1, BASE, "en", "s"),        # exact dup of 0
            (2, NEAR, "en", "s"),        # likely dup of 0/1
            (3, BORDER, "en", "s"),      # needs_review vs 0/1 (0.7 <= j < 0.9)
            (4, DIFFERENT, "en", "s"),   # non-duplicate: absent
        ],
        "doc_id long, text string, lang string, source string",
    )
    cfg = PipelineConfig(jaccard_threshold=0.5)
    out = dedup.dup_status_pairs(spark, docs, cfg)
    return {
        frozenset((r["doc_id1"], r["doc_id2"])): (r["status"], r["jaccard"])
        for r in out.collect()
    }


def test_exact_pair_grades_exact(status_pairs):
    st, j = status_pairs[frozenset((0, 1))]
    assert st == verify.STATUS_EXACT and j == 1.0


def test_near_pair_grades_likely(status_pairs):
    for pair in (frozenset((0, 2)), frozenset((1, 2))):
        st, j = status_pairs[pair]
        assert st == verify.STATUS_LIKELY and j >= 0.9


def test_border_pair_grades_needs_review(status_pairs):
    for pair in (frozenset((0, 3)), frozenset((1, 3))):
        st, j = status_pairs[pair]
        assert st == verify.STATUS_NEEDS_REVIEW and 0.7 <= j < 0.9


def test_non_duplicate_absent(status_pairs):
    assert not any(4 in p for p in status_pairs)


def test_exact_class_expands_to_all_member_pairs(spark):
    docs = spark.createDataFrame(
        [(i, BASE, "en", "s") for i in range(4)] + [(9, NEAR, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = dedup.dup_status_pairs(spark, docs, PipelineConfig()).collect()
    exact = {(r["doc_id1"], r["doc_id2"]) for r in out if r["status"] == verify.STATUS_EXACT}
    likely = [r for r in out if r["status"] == verify.STATUS_LIKELY]
    assert len(exact) == 6          # C(4,2) member pairs, not a 3-edge star
    assert len(likely) == 4         # NEAR pairs with every member of the class


def test_status_expr_thresholds(spark):
    df = spark.createDataFrame([(0.95,), (0.9,), (0.89,), (0.7,)], "j double")
    got = [r["s"] for r in df.select(verify.status_expr(F.col("j")).alias("s")).collect()]
    assert got == [
        verify.STATUS_LIKELY,
        verify.STATUS_LIKELY,
        verify.STATUS_NEEDS_REVIEW,
        verify.STATUS_NEEDS_REVIEW,
    ]


def test_dup_status_pairs_class_cap(spark):
    """A mega exact class must NOT detonate quadratically: above the
    per-class cap only the n-1 star pairs are listed and the ledger books
    the suppressed count (no-silent-caps)."""
    n = 200
    rows = [(i, "identical content " * 20, "en", "s") for i in range(n)]
    rows.append((n, "totally different words here", "en", "s"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    pairs, ledger = dedup.dup_status_pairs_with_ledger(
        spark, docs, PipelineConfig()
    )
    got = pairs.collect()
    # star listing: exactly n-1 pairs, all anchored at the class rep (doc 0)
    assert len(got) == n - 1
    assert all(r["status"] == verify.STATUS_EXACT for r in got)
    # all anchored at one rep doc (the class min-FID; fid order != doc order)
    assert len({r["doc_id1"] for r in got}) == 1
    led = ledger.collect()
    assert len(led) == 1
    assert led[0]["kind"] == "exact"
    assert led[0]["pairs_emitted"] == n - 1
    assert led[0]["pairs_suppressed"] == n * (n - 1) // 2 - (n - 1)


def test_dup_status_pairs_near_cap(spark, monkeypatch):
    """Capped near-dup class products list star pairs through each rep and
    ledger the rest; uncapped output is unchanged (subset check)."""
    base = " ".join(f"tok{i} fill{i}" for i in range(30))
    near = base + " extra tail"
    rows = [(i, base, "en", "s") for i in range(4)] + [
        (10 + i, near, "en", "s") for i in range(4)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    cfg = PipelineConfig(jaccard_threshold=0.5)
    full = dedup.dup_status_pairs(spark, docs, cfg)  # cap not hit
    monkeypatch.setattr(dedup, "MAX_PAIRS_PER_CLASS", 8)
    capped, ledger = dedup.dup_status_pairs_with_ledger(spark, docs, cfg)
    full_set = {(r["doc_id1"], r["doc_id2"]) for r in full.collect()}
    capped_rows = capped.collect()
    capped_set = {(r["doc_id1"], r["doc_id2"]) for r in capped_rows}
    assert capped_set <= full_set
    led = {r["kind"]: r for r in ledger.collect()}
    # near product 4*4=16 > 8 -> capped to 4+4-1=7 star pairs
    assert led["near"]["pairs_emitted"] == 7
    assert led["near"]["pairs_suppressed"] == 16 - 7
    n_near = sum(1 for r in capped_rows if r["status"] != verify.STATUS_EXACT)
    assert n_near == 7
