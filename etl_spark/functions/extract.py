"""HTML -> text extraction: the vectorized kernel of the engine.

This occupies the slot of the reference's domain kernels (CRS
transforms, trajectory assembly, Douglas-Peucker — SURVEY.md §2.9
G2-G8): per-row math expressed as an Arrow-batched vector kernel, never
per-row Python. The invariant (BASELINE.json input_hint) is
**byte-identical extracted text per url** across replays and
parallelism levels, so the kernel is a frozen pure function of the
html bytes alone: fixed regexes, fixed entity table, no locale/time
dependence. Golden tests pin exact outputs (tests/test_extract.py),
the way the reference pins its kernel behavior
(/root/reference/tests/trajectory_construction_test.py:24-37).

Pipeline: decode utf-8 -> drop <script>/<style> subtrees -> strip tags
-> unescape the 5 core entities -> collapse whitespace -> strip.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Frozen kernel constants — changing any of these breaks the
# byte-identity invariant; bump the engine version if ever touched
# (last change: 0.2.0, unclosed-construct EOF rules added).
# The structural patterns run as ONE fused alternation: a single
# left-to-right scan, trying closed script/style subtree, then closed
# comment, then their UNCLOSED-to-end-of-input forms, then bare tag AT
# EACH POSITION. NOTE this is deliberately NOT equivalent to sequential
# global passes: whichever construct opens first wins, so a comment
# hides a <script> that opens inside it
# ("a<!--<script>x--></script>b" -> "a b" — the stray </script> is then
# a bare tag). That left-to-right rule is the frozen definition (it
# also matches how an HTML tokenizer treats comment content); golden
# tests pin the overlap case explicitly. The unclosed forms mirror the
# tokenizer's EOF handling for TRUNCATED documents (the norm in real
# crawls): a <script>/<style>/<!-- that never closes swallows to end of
# input — without that rule the bare-tag branch stripped only the open
# tag and leaked raw JavaScript/CSS/comment bytes into "clean" text.
_RE_MARKUP = re.compile(
    r"(?is)"
    r"<(script|style)\b[^>]*>.*?</\1\s*>"  # closed subtree
    r"|<!--.*?-->"                         # closed comment
    r"|<(?:script|style)\b[^>]*>.*"        # unclosed subtree -> EOF
    r"|<!--.*"                             # unclosed comment -> EOF
    r"|<[^>]+>"                            # bare tag
)
# The whitespace collapse is defined as ``_RE_WS.sub(" ", s).strip()``;
# the kernel computes it as ``" ".join(s.split())``, which is equal
# (``str.split``/``strip`` and ``re``'s ``\s`` on ``str`` use one set of
# 29 whitespace code points; tests/test_extract.py pins the equality)
# and about 4x faster.
_RE_WS = re.compile(r"\s+")
# Order matters: &amp; last, so "&amp;lt;" -> "&lt;" (literal), not "<".
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def extract_text_series(html: pd.Series) -> pd.Series:
    """The kernel, as a pandas->pandas vector function (unit-testable
    without Spark; the pandas_udf below is a thin Arrow wrapper)."""
    txt = html.map(
        lambda b: b.decode("utf-8", "replace") if b is not None else None,
        na_action="ignore",
    )
    txt = txt.str.replace(_RE_MARKUP, " ", regex=True)
    for ent, ch in _ENTITIES:
        txt = txt.str.replace(ent, ch, regex=False)
    return txt.map(lambda s: " ".join(s.split()), na_action="ignore")


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Arrow-batched html->text. Null html (delete events) -> null."""
    return extract_text_series(html)


def with_extracted_text(df, html_col: str = "html", out_col: str = "text"):
    """Attach extracted text. Call AFTER dedup (winners only) so loser
    rows are never decoded — the extract stage is the CPU hot spot at
    10^10 events and must see each surviving key once."""
    return df.withColumn(out_col, extract_text(F.col(html_col)))
