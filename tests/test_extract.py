"""Golden tests for the frozen html->text kernel (byte-identity is the
per-row invariant, BASELINE.json input_hint). Mirrors the reference's
pure-kernel pinning style (trajectory_construction_test.py:24-37)."""

from __future__ import annotations

import pandas as pd
import pytest

from etl_spark.functions.extract import extract_text_series

GOLDENS = [
    (
        b"<html><head><title>T</title></head><body><h1>T</h1><p>hello world</p>"
        b"<script>var t=1;</script></body></html>",
        "T T hello world",
    ),
    (b"<p>a&amp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;</p>", "a&b <tag> \"q\" 's'"),
    (b"<div>  spaced\n\tout  </div>", "spaced out"),
    (b"<style>p {color: red}</style><p>kept</p>", "kept"),
    (b"<!-- comment --><b>bold</b>", "bold"),
    (b"plain text no tags", "plain text no tags"),
    (b"", ""),
    # double-escaped entity stays literal (&amp;lt; -> &lt;)
    (b"<p>&amp;lt;</p>", "&lt;"),
    # script with attributes and mixed case
    (b"<SCRIPT type='x'>alert(1)</SCRIPT><p>after</p>", "after"),
    # comment/script overlap: the kernel is a single left-to-right
    # alternation scan, so the comment (which opens first) swallows the
    # <script> opener and the orphan </script> is stripped as a bare tag.
    # Pins that the fused scan is NOT three sequential global passes.
    (b"a<!--<script>x--></script>b", "a b"),
    # and the converse: script opens first, its subtree swallows the
    # comment opener up to the real close tag.
    (b"a<script><!--</script>b-->c", "a b-->c"),
    # TRUNCATED documents (the norm in real crawls): an unclosed
    # <script>/<style>/<!-- swallows to end of input — tokenizer EOF
    # semantics — instead of leaking raw code into "clean" text.
    (b"<p>hello</p><script>var x=1; // no close", "hello"),
    (b"<p>hi</p><style>p{color:red", "hi"),
    (b"<p>hi</p><!-- truncated comment", "hi"),
    # a CLOSED subtree followed by an unclosed one: only the tail is eaten
    (b"a<script>x</script>b<script>y", "a b"),
]


@pytest.mark.parametrize("html,expected", GOLDENS)
def test_kernel_golden(html, expected):
    out = extract_text_series(pd.Series([html]))
    assert out.iloc[0] == expected


def test_kernel_null_passthrough():
    out = extract_text_series(pd.Series([None, b"<p>x</p>"]))
    assert pd.isna(out.iloc[0])
    assert out.iloc[1] == "x"


def test_kernel_deterministic_across_batch_shapes():
    """Same bytes -> same text regardless of batch split (the replay /
    parallelism invariance the north rule demands)."""
    payloads = [f"<p>doc {i} &amp; more</p>".encode() for i in range(100)]
    whole = extract_text_series(pd.Series(payloads))
    parts = pd.concat(
        [extract_text_series(pd.Series(payloads[i : i + 7])) for i in range(0, 100, 7)],
        ignore_index=True,
    )
    assert list(whole) == list(parts)


def test_kernel_in_spark_plan(spark):
    """Arrow-batched UDF wiring: binary column in, string out."""
    from pyspark.sql import functions as F
    from etl_spark.functions.extract import with_extracted_text

    df = spark.createDataFrame(
        [(b"<p>one</p>",), (None,)], "html binary"
    )
    got = with_extracted_text(df).select("text").collect()
    assert [r.text for r in got] == ["one", None]


def _frozen_regex_pipeline(html: pd.Series) -> pd.Series:
    """The kernel as frozen, whitespace collapsed by ``_RE_WS``: the
    reference the kernel's ``" ".join(s.split())`` must equal."""
    from etl_spark.functions.extract import _ENTITIES, _RE_MARKUP, _RE_WS

    txt = html.map(
        lambda b: b.decode("utf-8", "replace") if b is not None else None,
        na_action="ignore",
    )
    txt = txt.str.replace(_RE_MARKUP, " ", regex=True)
    for ent, ch in _ENTITIES:
        txt = txt.str.replace(ent, ch, regex=False)
    return txt.str.replace(_RE_WS, " ", regex=True).str.strip()


def test_whitespace_collapse_equals_frozen_regex():
    """``str.split()`` and ``re``'s ``\\s`` see the same 29 whitespace
    code points, and the kernel equals the frozen regex pipeline on
    each of them (alone, between words, at the edges), on the goldens,
    and on random markup built from them."""
    import random
    import re

    spaces = [chr(c) for c in range(0x110000) if re.match(r"\s", chr(c))]
    assert len(spaces) == 29
    assert spaces == [chr(c) for c in range(0x110000) if chr(c).isspace()]

    rng = random.Random(0)
    parts = spaces + [
        "a", "b", "\u00e9", "\u200b", "<p>", "</p>", "<script>", "</script>",
        "<style>", "<!--", "-->", "&amp;", "&lt;", "&#39;", "&", ";", "<", ">",
    ]
    texts = spaces + [f"{w}a{w}{w}b{w}" for w in spaces]
    texts += ["".join(rng.choices(parts, k=rng.randint(0, 30))) for _ in range(5000)]
    html = pd.Series(
        [t.encode("utf-8") for t in texts]
        + [h for h, _ in GOLDENS]
        + [b"\xff\x85 a\xc2\xa0b", None]
    )
    assert list(extract_text_series(html)) == list(_frozen_regex_pipeline(html))
