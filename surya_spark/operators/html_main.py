"""HTML main-content extraction: boilerplate strip via DOM-block heuristics.

The north rule names "HTML boilerplate strip, PDF/layout parse, DOM
heuristics" as first-class capabilities of the extraction engine. This is
the classic boilerpipe/readability density method re-expressed as pure
column expressions — no HTML parser library, no Python in the hot path:

  1. split the document into DOM blocks on block-level tag boundaries
     (p, div, h1-6, li, section, article, nav, footer, header, td, br);
  2. per block compute text length, word count, and LINK DENSITY
     (characters inside <a> anchors / total text characters) — the single
     strongest boilerplate signal (navigation, footers, related-links);
  3. keep blocks with >= MIN_WORDS words and link density <=
     MAX_LINK_DENSITY;
  4. re-assemble kept blocks in document order.

Everything is split/regexp/explode/window — whole-stage codegen, shuffle
keyed by doc_id only for the final re-assembly. Scales exactly like any
other per-document text operator: no pairwise work, no skew beyond
document length (bound upstream by substring if needed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# block-level boundaries: opening or closing forms
BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|section|article|nav|footer|header"
    r"|td|tr|table|br)\b[^>]*>"
)
ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
TAG_RE = r"<[^>]+>"
WS_RE = r"\s+"
# a main-content block has at least MIN_WORDS words and at most this
# share of its characters inside anchors (boilerpipe's density rule)
MIN_WORDS = 5
MAX_LINK_DENSITY = 0.33


def _clean(c: Column) -> Column:
    return F.trim(F.regexp_replace(F.regexp_replace(c, TAG_RE, " "),
                                   WS_RE, " "))


def html_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, block_idx, text, n_chars, n_words, link_density) — one row
    per DOM block of the `html` column. Link text is everything inside <a>
    anchors within the block; density = link chars / text chars (1.0 for
    empty blocks so they never pass the filter)."""
    from ..plans import partitioning

    # r7: block split + per-block regex cleaning over a single-row-group
    # corpus file would run on one scan task — spread first (no-op when
    # the input is already well partitioned)
    ex = partitioning.spread_small_input(docs, "doc_id").select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("html"), BLOCK_TAG_RE))
        .alias("block_idx", "raw"),
    )
    text = _clean(F.col("raw"))
    link_text = _clean(
        F.array_join(F.regexp_extract_all("raw", F.lit(ANCHOR_RE), 1), " "))
    n_chars = F.length(text).cast("double")
    n_link = F.length(link_text).cast("double")
    n_words = F.size(F.filter(F.split(text, WS_RE),
                              lambda w: F.length(w) > 0))
    return ex.select(
        "doc_id", "block_idx",
        text.alias("text"),
        n_chars.cast("long").alias("n_chars"),
        n_words.alias("n_words"),
        F.when(n_chars > 0, F.round(n_link / n_chars, 6))
        .otherwise(F.lit(1.0)).alias("link_density"),
    )


def strip_boilerplate(docs: DataFrame) -> DataFrame:
    """(doc_id, main_text, n_blocks_kept, n_blocks_total): kept blocks
    joined in document order with newlines — the extracted main content."""
    blocks = html_blocks(docs)
    keep = (F.col("n_words") >= MIN_WORDS) & (
        F.col("link_density") <= MAX_LINK_DENSITY)
    flagged = blocks.withColumn("keep", keep)
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"),
                                   F.struct("block_idx", "text"))
                        )
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("main_text"),
            F.sum(F.col("keep").cast("long")).alias("n_blocks_kept"),
            F.count(F.lit(1)).cast("long").alias("n_blocks_total"),
        )
    )
