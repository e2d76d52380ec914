"""The numpy (Arrow pandas_udf) vector kernels must be BIT-identical to
a plain left fold in index order — the IEEE operation order the SQL
oracle twins use — so the oracle hash checks hold. The reference is
pure Python, defined here, outside the engine.
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pytest

from etl_spark.operators import similarity as sim
from etl_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _ref_cos(a, b):
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _ref_sq_dist(v, c):
    acc = 0.0
    for x, y in zip(v, c):
        d = x - y
        acc = acc + d * d
    return acc


def _ref_probes(v, cents):
    """Cell ids by (distance, cell id) — the lowest id wins ties."""
    return [cid for _, cid in sorted((_ref_sq_dist(v, c), cid) for cid, c in cents)]


def _ref_kmeans(vecs, k, iters):
    """Lloyd: init from the k lowest ids; per-dim means summed in
    ascending id order; a cell that empties disappears."""
    cents = [(i, vecs[vid]) for i, vid in enumerate(sorted(vecs)[:k])]
    for _ in range(iters):
        members = defaultdict(list)
        for vid in sorted(vecs):
            members[_ref_probes(vecs[vid], cents)[0]].append(vid)
        cents = []
        for cid in sorted(members):
            ce = []
            for i in range(len(vecs[members[cid][0]])):
                acc = 0.0
                for vid in members[cid]:
                    acc = acc + vecs[vid][i]
                ce.append(acc / len(members[cid]))
            cents.append((cid, ce))
    return {vid: _ref_probes(v, cents)[0] for vid, v in vecs.items()}, cents


def _round4(x):
    """Spark's round(x, 4): HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _vectors(spark):
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).collect()
    return emb, {r.vec_id: list(r.e) for r in rows}


def test_cosine_bit_identical(spark):
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings").limit(40)
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").cast("array<double>").alias("a_v"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").cast("array<double>").alias("b_v"),
    )
    rows = (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id", "a_v", "b_v",
            sim.cosine_cols(F.col("a_v"), F.col("b_v")).alias("c"),
        )
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        ref = _ref_cos(r.a_v, r.b_v)
        # bit-identical doubles, not approx: same IEEE op order
        assert r.c == ref, (r.a_id, r.b_id, r.c.hex(), ref.hex())


def test_kmeans_assignments_identical(spark):
    emb, vecs = _vectors(spark)
    cells, cents, ids = sim.kmeans_cells(
        emb, "vec_id", "embedding", k=5, iters=2
    )
    ref_cells, ref_cents = _ref_kmeans(vecs, k=5, iters=2)
    assert {r.vid: r.cell for r in cells.collect()} == ref_cells
    assert ids == [cid for cid, _ in ref_cents]
    assert cents == [c for _, c in ref_cents]  # centroids bit-identical


def test_ivf_pairs_and_probes_identical(spark):
    emb, vecs = _vectors(spark)
    out = sim.ivf_dedup_pairs(
        emb, "vec_id", "embedding", threshold=0.95, k=5, n_probes=2
    )
    got = {(r.a_id, r.b_id): r.cosine for r in out.collect()}

    cells, cents = _ref_kmeans(vecs, k=5, iters=2)
    by_cell = defaultdict(list)
    for vid, cell in cells.items():
        by_cell[cell].append(vid)
    pairs = {
        (min(p, c), max(p, c))
        for p, v in vecs.items()
        for cell in _ref_probes(v, cents)[:2]
        for c in by_cell[cell]
        if c != p
    }
    ref = {}
    for a, b in pairs:
        cos = _ref_cos(vecs[a], vecs[b])
        if cos >= 0.95:
            ref[(a, b)] = _round4(cos)
    assert got == ref


def test_null_and_ragged_vectors_null_out_not_nan(spark):
    """A null vector or a length-mismatched pair yields NULL cosine
    (never NaN — NaN sorts FIRST under a descending top-k and would
    poison every result), and equal-but-nonstandard lengths still
    compute."""
    from pyspark.sql import functions as F

    rows = [
        (1, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),   # normal
        (2, None, [1.0, 0.0, 0.0]),               # null side
        (3, [1.0, 0.0], [1.0, 0.0, 0.0]),         # ragged pair
        (4, [0.5, 0.5], [0.5, 0.5]),              # equal nonstandard len
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = {
        r.id: r.c
        for r in df.select(
            "id", sim.cosine_cols(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    assert got[2] is None and got[3] is None
    assert got[1] == _ref_cos(rows[0][1], rows[0][2])
    assert got[4] == _ref_cos(rows[3][1], rows[3][2])


def test_null_element_nulls_out_like_fold(spark):
    """A null ELEMENT in either vector yields NULL (Arrow hands it to
    numpy as NaN; the kernel must not return that NaN), while clean
    rows in the same batch still compute."""
    from pyspark.sql import functions as F

    rows = [
        (1, [1.0, None, 0.0], [1.0, 0.0, 0.0]),   # null element, left
        (2, [1.0, 0.0, 0.0], [0.5, 0.5, None]),   # null element, right
        (3, [1.0, 2.0, 0.0], [2.0, 4.0, 0.0]),    # clean, same length
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = {
        r.id: r.c
        for r in df.select(
            "id", sim.cosine_cols(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    assert got[1] is None and got[2] is None
    assert got[3] == _ref_cos(rows[2][1], rows[2][2])


def test_topk_never_ranks_null_vector_first(spark):
    """The regression the NaN bug would cause: a corpus row with a null
    embedding must sort LAST (null), not FIRST (NaN), and the ranking
    matches the reference cosine order (ties to the lower id)."""
    corpus_rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, None),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>"
    )
    q = [1.0, 0.0, 0.0, 0.0]
    queries = spark.createDataFrame(
        [(10, q)], "vec_id long, embedding array<float>"
    )
    out = sim.brute_force_topk(queries, corpus, "vec_id", "embedding", k=4)
    got = [(r.rank, r.cand_id, r.cosine) for r in out.orderBy("rank").collect()]

    scored = sorted(
        ((-_ref_cos(q, v), vid) for vid, v in corpus_rows if v is not None)
    )
    want = [
        (rank, vid, _round4(-neg))
        for rank, (neg, vid) in enumerate(scored, start=1)
    ]
    assert got == want + [(4, 3, None)]  # null vec ranks last


def test_assign_and_probe_null_out_invalid_vectors(spark):
    """_assign/_probe kernels: null or wrong-dimension vectors get a
    NULL cell / NULL probe list, valid vectors assign to the nearest
    cell."""
    from pyspark.sql import functions as F
    from etl_spark.operators.similarity import _assign_np_udf, _probe_np_udf

    cents = [[0.0, 0.0], [10.0, 10.0]]
    ids = [0, 1]
    df = spark.createDataFrame(
        [
            (1, [0.5, 0.5]),
            (2, None),
            (3, [1.0, 2.0, 3.0]),  # wrong dim
            (4, [9.0, 9.0]),
        ],
        "id long, e array<double>",
    )
    got = {
        r.id: r.cell
        for r in df.select(
            "id", _assign_np_udf(cents, ids)(F.col("e")).alias("cell")
        ).collect()
    }
    assert got == {1: 0, 2: None, 3: None, 4: 1}
    probes = {
        r.id: r.p
        for r in df.select(
            "id", _probe_np_udf(cents, ids, 2)(F.col("e")).alias("p")
        ).collect()
    }
    assert probes[1] == [0, 1] and probes[4] == [1, 0]
    assert probes[2] is None and probes[3] is None
