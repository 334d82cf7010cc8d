"""Stateful text post-processing as Arrow-vectorized pandas UDFs.

These are the reference string ops whose tag-stack / scan state cannot be
a single regex (SURVEY.md §2.2):

  * clean_math_tags       — /root/reference/surya/recognition/util.py:30-56
  * truncate_repetitions  — /root/reference/surya/recognition/postprocessing.py:7-35
  * fix_unbalanced_tags   — /root/reference/surya/recognition/postprocessing.py:74-121

Each has a plain-Python kernel (unit-testable without Spark) and a
pandas_udf wrapper (Series→Series, Arrow-batched — never row-at-a-time).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INNER_TAG_RE = re.compile(r"</?(br|i|b|u|sub|sup|p|span)\s*/?>")
_MATH_RE = re.compile(r"(<math(?:\s[^>]*)?>)(.*?)(</math>)", re.DOTALL)


def clean_math_tags_py(text: str) -> str:
    """Strip formatting tags *inside* <math> bodies; drop orphan </math>
    closers that have no opener."""
    def scrub(m: re.Match) -> str:
        return m.group(1) + _INNER_TAG_RE.sub("", m.group(2)) + m.group(3)

    out = _MATH_RE.sub(scrub, text)
    # remove orphan closers left→right with an open-count scan
    result = []
    open_count = 0
    idx = 0
    for m in re.finditer(r"<math(?:\s[^>]*)?>|</math>", out):
        result.append(out[idx:m.start()])
        if m.group(0).startswith("<math"):
            open_count += 1
            result.append(m.group(0))
        elif open_count > 0:
            open_count -= 1
            result.append(m.group(0))
        # orphan </math>: skip
        idx = m.end()
    result.append(out[idx:])
    return "".join(result)


# truncate_repetitions_py's shortest repeated unit
MIN_REPEAT_LEN = 8


def truncate_repetitions_py(text: str) -> str:
    """Remove a repeated tail: if the string ends with ≥2 copies of the
    same substring (length ≥ MIN_REPEAT_LEN), keep a single copy
    (nougat-style degenerate-decode cleanup)."""
    if len(text) < 2 * MIN_REPEAT_LEN:
        return text
    max_rep_len = len(text) // 2
    for rep_len in range(max_rep_len, MIN_REPEAT_LEN - 1, -1):
        tail = text[-rep_len:]
        n = 1
        while (
            len(text) >= (n + 1) * rep_len
            and text[-(n + 1) * rep_len: -n * rep_len] == tail
        ):
            n += 1
        if n >= 2:
            return text[: len(text) - (n - 1) * rep_len]
    return text


_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\s[^>]*)?)>")
_SELF_CLOSING = {"br", "hr", "img"}


def fix_unbalanced_tags_py(text: str) -> str:
    """Tag-stack scan: drop closers that were never opened, append missing
    closers at the end (in reverse open order)."""
    out = []
    stack: list[str] = []
    idx = 0
    for m in _TAG_RE.finditer(text):
        out.append(text[idx:m.start()])
        closing, name, attrs = m.groups()
        name_l = name.lower()
        if name_l in _SELF_CLOSING or (attrs or "").rstrip().endswith("/"):
            out.append(m.group(0))
        elif not closing:
            stack.append(name)
            out.append(m.group(0))
        elif stack and stack[-1] == name:
            stack.pop()
            out.append(m.group(0))
        # unmatched closer: drop
        idx = m.end()
    out.append(text[idx:])
    for name in reversed(stack):
        out.append(f"</{name}>")
    return "".join(out)


def _series_udf(fn):
    @F.pandas_udf(T.StringType())
    def udf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: fn(v) if v is not None else None)

    return udf


def clean_math_tags_udf():
    return _series_udf(clean_math_tags_py)


def truncate_repetitions_udf():
    return _series_udf(truncate_repetitions_py)


def fix_unbalanced_tags_udf():
    return _series_udf(fix_unbalanced_tags_py)
