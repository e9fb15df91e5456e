"""Test-only helpers shared by several test modules.

Production code never calls these; they are thin conveniences over the
package's batch APIs.
"""
import pandas as pd

from libpostal_spark.core.canonicalize import (
    canonicalize_batch,
    expand_alternatives_tokens,
)


def canonicalize_one(text: str, **kw) -> str:
    """Single-string ``canonicalize_batch`` (tests, goldens)."""
    return canonicalize_batch(pd.Series([text]), **kw).iloc[0]


def expand_alternatives(
    text: str,
    expansions: dict[str, str] | None,
    max_expansions: int = 64,
) -> tuple[list[str], int]:
    """Single-string ``expand_alternatives_tokens``: canonicalize ``text``,
    split it into tokens and expand. Returns (forms, n_matches)."""
    base = canonicalize_one(text)
    return expand_alternatives_tokens(
        base.split(" ") if base else [], expansions, max_expansions
    )


def corpus_to_spark(spark, pdf: pd.DataFrame, n_partitions: int = 0):
    """files DataFrame (truth columns dropped) — the pipeline's input table."""
    df = spark.createDataFrame(pdf[["repo", "path", "commit", "lang", "content"]])
    return df.repartition(n_partitions) if n_partitions else df
