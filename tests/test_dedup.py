"""LWW dedup family: baseline, window twin, salted two-phase — all
three must agree on every scenario (FIXTURES.md §2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from etl_spark.operators.dedup import (
    lww_dedup,
    lww_dedup_window,
    salted_lww_dedup,
)

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("payload", T.StringType(), True),
    ]
)

TS = lambda m: dt.datetime(2024, 1, 1, 0, m)


def _changes(spark):
    rows = [
        # u1: plain newer-wins
        ("u1", TS(1), 1, "old"),
        ("u1", TS(5), 2, "new"),
        # u2: out-of-order arrival — older ts later in log must lose
        ("u2", TS(9), 3, "winner"),
        ("u2", TS(4), 4, "stale"),
        # u3: duplicate (url, warc_ts) — higher seq wins
        ("u3", TS(2), 5, "first"),
        ("u3", TS(2), 6, "dup-wins"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


EXPECTED = {("u1", "new"), ("u2", "winner"), ("u3", "dup-wins")}


@pytest.mark.parametrize(
    "fn",
    [
        lww_dedup,
        lww_dedup_window,
        lambda df, k, o: salted_lww_dedup(df, k, o, n_salts=4),
    ],
    ids=["agg", "window", "salted"],
)
def test_lww_variants_agree(spark, fn):
    out = fn(_changes(spark), ["url"], ["warc_ts", "seq"])
    got = {(r.url, r.payload) for r in out.collect()}
    assert got == EXPECTED


def test_salted_equals_plain_on_skewed_data(spark):
    """Hot key (1 url, many events): two-phase must pick the same winner."""
    rows = [("hot", TS(i % 60), i, f"p{i}") for i in range(500)]
    rows += [("cold", TS(3), 1000, "c")]
    df = spark.createDataFrame(rows, SCHEMA)
    plain = {(r.url, r.payload) for r in lww_dedup(df, ["url"], ["warc_ts", "seq"]).collect()}
    salted = {
        (r.url, r.payload)
        for r in salted_lww_dedup(df, ["url"], ["warc_ts", "seq"], n_salts=8).collect()
    }
    assert plain == salted
    # winner = max ts (minute 59), max seq among those
    want_seq = max(i for i in range(500) if i % 60 == 59)
    assert ("hot", f"p{want_seq}") in plain


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs: the stopword-shingle doc-frequency cap
# ---------------------------------------------------------------------------
def test_jaccard_doc_freq_cap_drops_stopword_shingles(spark):
    from etl_spark.operators.dedup_text import (
        dropped_shingle_stats,
        ngram_jaccard_pairs,
    )

    # 6 docs share the same 5-word prefix (a "stopword shingle" with
    # doc-frequency 6); each has a distinct tail so no pair is a near-dup.
    common = "alpha beta gamma delta epsilon"
    rows = [(i, f"{common} tail{i} x{i} y{i} z{i} w{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    # cap below the common shingle's df: the quadratic join never sees it
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", k=5, threshold=0.05, max_doc_freq=5
    )
    uncapped = ngram_jaccard_pairs(
        df, "doc_id", "text", k=5, threshold=0.05, max_doc_freq=None
    )
    assert capped.count() == 0  # only the common shingle linked the docs
    assert uncapped.count() == 15  # all 6x5/2 pairs via the stopword shingle

    stats = dropped_shingle_stats(df, "doc_id", "text", k=5, max_doc_freq=5)
    assert stats["dropped_shingles"] == 1  # one distinct shingle over the cap
    assert stats["max_doc_freq_seen"] == 6
    assert stats["cap"] == 5


def test_shingle_rows_matches_exact_form_and_edges(spark):
    """The codegen fast path (position explode) must emit exactly the
    multiset of shingle POSITIONS, equal as a SET to the exact array
    form's distinct shingles — including the edges: < k words (no rows,
    the sequence(1, 0)-descends trap), null text (no rows), consecutive
    spaces (empty tokens preserved, split-on-space semantics), and
    within-doc duplicate shingles (present in rows, absent after
    distinct)."""
    from pyspark.sql import functions as F

    from etl_spark.operators.dedup_text import shingle_rows, shingle_table

    rep = "a b c d e " * 3  # duplicate shingles within one doc
    rows = [
        (1, "one two three four"),          # 4 words < k -> no rows
        (2, None),                           # null text -> no rows
        (3, "w1 w2  w3 w4 w5 w6"),          # double space -> empty token
        (4, rep.strip()),                    # repeated 5-gram
        (5, "p q r s t"),                    # exactly k words -> 1 shingle
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    fast = shingle_rows(df, "doc_id", "text", k=5)
    exact = shingle_table(df, "doc_id", "text", k=5)

    assert fast.filter(F.col("doc").isin(1, 2)).count() == 0
    assert exact.filter(F.col("doc").isin(1, 2)).count() == 0

    # doc 4: "a b c d e" * 3 -> 11 positions, far fewer distinct
    n_pos = fast.filter(F.col("doc") == 4).count()
    n_distinct = fast.filter(F.col("doc") == 4).distinct().count()
    assert n_pos == 11 and n_distinct == 5

    # set equality with the exact form, per doc
    f = {(r.doc, r.gram) for r in fast.distinct().collect()}
    e = {(r.doc, r.gram) for r in exact.select("doc", "gram").collect()}
    assert f == e

    # and the exact form's n_grams equals the fast form's distinct count
    cnt = {
        r.doc: r.n
        for r in fast.distinct().groupBy("doc").agg(F.count("*").alias("n")).collect()
    }
    for r in exact.select("doc", "n_grams").distinct().collect():
        assert cnt[r.doc] == r.n_grams


def test_simhash_packed_chunks_reassemble_fingerprint(spark):
    """The packed (fp_hi, fp_lo) halves and the banding chunk
    extraction must agree: re-concatenating every chunk's bits at any
    chunk width that divides 64 reproduces the full fingerprint, and
    bit_count(xor) of a doc with itself is 0."""
    from pyspark.sql import functions as F

    from etl_spark.operators.dedup_text import (
        SIMHASH_BITS,
        _chunk_sig,
        simhash_fingerprints,
        simhash_pairs,
    )

    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, "zeta eta theta iota kappa")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = simhash_fingerprints(df, "doc_id", "text")
    got = {r.doc: (r.fp_hi, r.fp_lo) for r in fps.collect()}
    # identical docs -> identical fingerprints; halves fit in 32 bits
    assert got[1] == got[2]
    for hi, lo in got.values():
        assert 0 <= hi < 2**32 and 0 <= lo < 2**32

    for width in (8, 16, 32):
        n_chunks = SIMHASH_BITS // width
        sel = fps.select(
            "fp_hi", "fp_lo",
            *[_chunk_sig(width, c).alias(f"g{c}") for c in range(n_chunks)],
        )
        for r in sel.collect():
            full = 0
            for c in range(n_chunks):
                full = (full << width) | r[f"g{c}"]
            assert full == (r.fp_hi << 32) | r.fp_lo, f"width={width}"

    # seam-spanning extraction (width=12, chunk 2 covers bits 24..36,
    # crossing the 32-bit hi/lo boundary) against a pure-Python model
    sel12 = fps.select(
        "fp_hi", "fp_lo", *[_chunk_sig(12, c).alias(f"g{c}") for c in range(5)]
    )
    for r in sel12.collect():
        full64 = (r.fp_hi << 32) | r.fp_lo
        for c in range(5):
            want = (full64 >> (64 - (c + 1) * 12)) & ((1 << 12) - 1)
            assert r[f"g{c}"] == want, f"chunk {c}"

    pairs = {(r.a_id, r.b_id): r.hamming for r in
             simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0  # identical docs collide in every band


def test_jaccard_cap_defaults_on(spark):
    """The guard must be the default — None is the explicit opt-out."""
    import inspect

    from etl_spark.operators.dedup_text import (
        DEFAULT_MAX_DOC_FREQ,
        ngram_jaccard_pairs,
    )

    sig = inspect.signature(ngram_jaccard_pairs)
    assert sig.parameters["max_doc_freq"].default == DEFAULT_MAX_DOC_FREQ


# ---------------------------------------------------------------------------
# kmeans_cells: the learned IVF coarse quantizer
# ---------------------------------------------------------------------------
def test_kmeans_cells_deterministic_and_stable(spark):
    from etl_spark.operators.similarity import kmeans_cells

    rows = []
    for i in range(40):
        # two obvious blobs in 64-d: first 32 dims high vs last 32 high
        base = [5.0, 0.0] if i % 2 == 0 else [0.0, 5.0]
        vec = [base[0] + (i % 7) * 0.01] * 32 + [base[1] + (i % 5) * 0.01] * 32
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    a1, c1, ids1 = kmeans_cells(df, "vec_id", "embedding", k=4, iters=2)
    a2, c2, ids2 = kmeans_cells(df, "vec_id", "embedding", k=4, iters=2)
    assert ids1 == ids2 and len(ids1) == len(c1)
    m1 = {r.vid: r.cell for r in a1.collect()}
    m2 = {r.vid: r.cell for r in a2.collect()}
    assert m1 == m2  # replay-deterministic
    assert c1 == c2  # bit-identical centroids
    # the two blobs never share a cell
    even_cells = {m1[i] for i in range(0, 40, 2)}
    odd_cells = {m1[i] for i in range(1, 40, 2)}
    assert even_cells.isdisjoint(odd_cells)


# ---------------------------------------------------------------------------
# multiprobe_topk: the IVF recall knob
# ---------------------------------------------------------------------------
def test_multiprobe_bounds_and_degenerate_cases(spark):
    """n_probes=1 must equal the single-probe (assigned-cell) search;
    n_probes=n_cells must equal brute force; recall is monotone in
    n_probes."""
    from etl_spark.operators.similarity import (
        brute_force_topk,
        kmeans_cells,
        multiprobe_topk,
        partitioned_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cells, centroids, cell_ids = kmeans_cells(e, "vec_id", "embedding", k=6, iters=2)
    withc = e.join(cells, e.vec_id == cells.vid).drop("vid")
    queries = withc.filter("vec_id < 20")

    def key(df, cols=("query_id", "rank", "cand_id")):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    single = partitioned_topk(queries, withc, "vec_id", "embedding", "cell", k=5)
    p1 = multiprobe_topk(
        queries, withc, "vec_id", "embedding", "cell", centroids,
        n_probes=1, k=5, cell_ids=cell_ids,
    )
    assert key(p1) == key(single)

    brute = brute_force_topk(queries, withc, "vec_id", "embedding", k=5)
    pall = multiprobe_topk(
        queries, withc, "vec_id", "embedding", "cell", centroids,
        n_probes=len(centroids), k=5, cell_ids=cell_ids,
    )
    assert key(pall) == key(brute)

    truth = set(key(brute, ("query_id", "cand_id")))

    def recall(df):
        got = set(key(df, ("query_id", "cand_id")))
        return len(got & truth)

    p2 = multiprobe_topk(
        queries, withc, "vec_id", "embedding", "cell", centroids,
        n_probes=2, k=5, cell_ids=cell_ids,
    )
    assert recall(p1) <= recall(p2) <= recall(pall) == len(truth)


# ---------------------------------------------------------------------------
# kmeans_cells: the enforced train-on-sample guard
# ---------------------------------------------------------------------------
def test_sampled_ivf_pinned_membership_matches_xxhash64(spark):
    """ann_ivf_sampled_topk's DuckDB oracle pins the xxhash64 sample
    membership as literals (DuckDB has no xxhash64). Guard the pin:
    the literal set must equal pmod(xxhash64(vec_id), 8) == 0 over
    vec_id 0..499 — exactly the ids both gate scales (sf0.001 parity,
    sf0.01 driver) carry — so testdata regeneration or a sampling
    change breaks THIS test instead of silently desyncing the twins."""
    from pyspark.sql import functions as F

    from etl_spark.queries.similarity import _SAMPLED_IDS, SAMPLED_MAX_TRAIN

    mod = -(-500 // SAMPLED_MAX_TRAIN)
    assert mod == 8
    ids = spark.range(500).select(F.col("id").alias("vec_id"))
    want = sorted(
        r.vec_id
        for r in ids.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0
        ).collect()
    )
    assert list(_SAMPLED_IDS) == want
    # and the gate tables really carry vec_id 0..499
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id")
        assert sorted(r.vec_id for r in got.collect()) == list(range(500))


def test_kmeans_sample_guard_trains_on_id_hash_sample(spark):
    """When the input exceeds max_training_rows, Lloyd must run on the
    deterministic pmod(xxhash64(id), ceil(n/max))==0 sample and ONLY the
    final assignment may see the full set — pinned by comparing the
    guarded run's centroids against explicit sample-only training."""
    from pyspark.sql import functions as F

    from etl_spark.operators.similarity import kmeans_cells

    rows = []
    for i in range(40):
        base = [5.0, 0.0] if i % 2 == 0 else [0.0, 5.0]
        vec = [base[0] + (i % 7) * 0.01] * 32 + [base[1] + (i % 5) * 0.01] * 32
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    a_g, c_guarded, ids_guarded = kmeans_cells(
        df, "vec_id", "embedding", k=4, iters=2, max_training_rows=20
    )
    mod = -(-40 // 20)
    sample = df.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0)
    assert 0 < sample.count() < 40
    _, c_sample, ids_sample = kmeans_cells(
        sample, "vec_id", "embedding", k=4, iters=2, max_training_rows=None
    )
    assert c_guarded == c_sample  # trained on the sample, bit-identical
    assert ids_guarded == ids_sample
    # the full corpus is still assigned (not just the sample) and only
    # to surviving cells
    assigned = a_g.collect()
    assert len(assigned) == 40
    assert {r.cell for r in assigned} <= set(ids_guarded)
    # guard not triggered below the cap: identical to unguarded training
    _, c_all, _ = kmeans_cells(
        df, "vec_id", "embedding", k=4, iters=2, max_training_rows=40
    )
    _, c_none, _ = kmeans_cells(
        df, "vec_id", "embedding", k=4, iters=2, max_training_rows=None
    )
    assert c_all == c_none


# ---------------------------------------------------------------------------
# dedup_embedding_blocked: the registered operator must not cross-join
# ---------------------------------------------------------------------------
def test_blocked_embedding_dedup_has_no_cartesian_product(spark):
    from etl_spark.queries import load_all

    spec = load_all()["dedup_embedding_blocked"]
    df = spec.fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # blocked results are a subset of the all-pairs baseline
    base = load_all()["dedup_embedding_cosine"].fn(spark, "/root/testdata/sf0.001")
    got = {(r.a_id, r.b_id) for r in df.collect()}
    allp = {(r.a_id, r.b_id) for r in base.collect()}
    assert got <= allp


# ---------------------------------------------------------------------------
# dedup_embedding_ivf: the end-to-end ANN-dedup pipeline
# ---------------------------------------------------------------------------
def test_ivf_dedup_no_cartesian_and_subset_of_allpairs(spark):
    from etl_spark.queries import load_all

    reg = load_all()
    df = reg["dedup_embedding_ivf"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = {(r.a_id, r.b_id) for r in df.collect()}
    allp = {
        (r.a_id, r.b_id)
        for r in reg["dedup_embedding_cosine"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got <= allp


def test_ivf_dedup_full_probe_recovers_all_pairs(spark):
    """n_probes = k probes every cell -> candidate set covers every
    pair -> exactly the all-pairs result (the recall knob's ceiling)."""
    from etl_spark.operators.similarity import cosine_pairs, ivf_dedup_pairs
    from etl_spark.sources.readers import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    full = ivf_dedup_pairs(
        e, "vec_id", "embedding", threshold=0.45, k=4, iters=1, n_probes=4
    )
    base = cosine_pairs(e, "vec_id", "embedding", threshold=0.45)
    got = {(r.a_id, r.b_id, r.cosine) for r in full.collect()}
    want = {(r.a_id, r.b_id, r.cosine) for r in base.collect()}
    assert got == want


def test_ivf_dedup_pairs_forwards_dim(spark):
    """ivf_dedup_pairs must thread ``dim`` into the quantizer it
    builds: with 4-dim embeddings and dim=4, two tight 4-d blobs dedup
    within themselves and never across — a default-64-dim quantizer
    would average beyond the arrays and null out every distance."""
    from etl_spark.operators.similarity import ivf_dedup_pairs

    rows = []
    for i in range(12):
        base = [9.0, 0.0, 0.0, 9.0] if i % 2 == 0 else [0.0, 9.0, 9.0, 0.0]
        rows.append((i, [v + (i % 3) * 0.001 for v in base]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    pairs = ivf_dedup_pairs(
        df, "vec_id", "embedding", threshold=0.99, k=2, iters=2,
        n_probes=1, dim=4,
    ).collect()
    assert pairs  # near-identical blob members found
    for r in pairs:
        assert r.a_id % 2 == r.b_id % 2  # never across blobs
        assert r.cosine >= 0.99


def test_jaccard_cap_recounts_denominator(spark):
    """Two identical docs sharing an over-cap boilerplate shingle must
    still score 1.0: the denominator is recounted over the capped
    shingle universe (pre-cap counts would give 5/(12-5) = 0.71 and
    silently drop the pair)."""
    from etl_spark.operators.dedup_text import ngram_jaccard_pairs

    dup = "common one two three four u1 u2 u3 u4 u5"  # 10 words, 6 shingles
    rows = [(1, dup), (2, dup)]
    # 3 more docs opening with the same 5 words -> that shingle's df=5
    rows += [(10 + i, f"common one two three four tail{i} a b c d")
             for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r.a_id, r.b_id): (r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", k=5, threshold=0.8, max_doc_freq=2
        ).collect()
    }
    assert pairs[(1, 2)] == (5, 1.0)  # boilerplate dropped, still exact


def test_exact_dedup_excludes_null_text(spark):
    """Null-text docs must not collapse into one 'duplicate' group."""
    from etl_spark.operators.dedup_text import exact_dup_groups

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)],
        "doc_id bigint, text string",
    )
    groups = exact_dup_groups(df, "doc_id", "text").collect()
    assert len(groups) == 1 and groups[0].n_copies == 2
