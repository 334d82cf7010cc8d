"""OCR-error detection stage: text spans → good/bad labels + doc vote.

Reference: DistilBERT binary classifier over text chunks
(/root/reference/surya/ocr_error/__init__.py:14-63, labels at
/root/reference/surya/ocr_error/model/config.py:9-12) and the
bad-PDF vote — fraction of 'bad' chunks > 0.2 —
(/root/reference/surya/scripts/streamlit_app.py:54-57).

The classifier is the simplest slot: Series→Series pandas_udf. The
default surrogate is the same deterministic alnum-ratio heuristic as
slots.surrogate_ocr_error, but expressed as a COLUMN EXPRESSION so the
default path never leaves the JVM; inject a pandas_udf-wrapped real model
for deployment.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# a document is bad when more than this share of its spans is bad
# (ref surya/scripts/streamlit_app.py:54-57)
BAD_DOC_FRAC = 0.2


def heuristic_label(text: Column) -> Column:
    """'good' iff ≥70% of characters are alphanumeric/whitespace (and text
    non-empty) — column-expression twin of slots.surrogate_ocr_error."""
    n = F.length(text)
    alnum = F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
    return F.when(
        (n > 0) & (alnum.cast("double") / n >= 0.7), F.lit("good")
    ).otherwise(F.lit("bad"))


def classify_spans(span_rows: DataFrame,
                   model_udf: Callable | None = None) -> DataFrame:
    """Adds ocr_label to text-span rows (their `text` column).
    model_udf: optional pandas_udf (Series→Series of 'good'/'bad')
    replacing the heuristic — the real DistilBERT slot in deployment.

    Tokenization is MODEL-PROVIDER-INTERNAL by contract: the slot takes
    raw text, and a real provider brings its own wordpiece tokenizer
    (the reference bundles one at
    /root/reference/surya/ocr_error/tokenizer.py — ~500 LoC of
    DistilBERT tokenization that lives inside its model wrapper, not in
    its relational surface; same boundary here)."""
    from ..plans import partitioning

    label = (
        model_udf(F.col("text")) if model_udf is not None
        else heuristic_label(F.col("text"))
    )
    # r7: regex/model labeling is per-row heavy — spread single-row-group
    # corpus scans across the cluster first (no-op at deployment scale)
    return partitioning.spread_small_input(span_rows).withColumn(
        "ocr_label", label)


def doc_bad_vote(labeled: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Per-doc fraction of 'bad' spans and the bad-PDF verdict."""
    return (
        labeled.groupBy(doc_col)
        .agg(
            F.round(
                F.avg((F.col("ocr_label") == "bad").cast("double")), 6
            ).alias("bad_frac"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .withColumn("is_bad_doc", F.col("bad_frac") > BAD_DOC_FRAC)
    )
