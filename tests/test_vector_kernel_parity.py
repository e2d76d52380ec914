"""The numpy (Arrow pandas_udf) vector kernels must be BIT-identical to
the JVM fold kernels — same IEEE operation order per dimension — so the
SQL-oracle hash checks hold under either physical plan (the dispatch is
a perf knob, never a semantics knob).
"""

from __future__ import annotations

import pytest

from etl_spark.operators import similarity as sim
from etl_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def _restore_kernel():
    orig = sim.VECTOR_KERNEL
    yield
    sim.VECTOR_KERNEL = orig


def _with_kernel(kernel, fn):
    sim.VECTOR_KERNEL = kernel
    return fn()


def test_cosine_bit_identical(spark, _restore_kernel):
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

    def run():
        pairs = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
        return sorted(
            (r.a_id, r.b_id, r.c)
            for r in pairs.select(
                "a_id", "b_id",
                sim.cosine_cols(F.col("a_v"), F.col("b_v")).alias("c"),
            ).collect()
        )

    fold = _with_kernel("fold", run)
    npk = _with_kernel("numpy", run)
    assert len(fold) == len(npk) > 0
    for (ia, ib, cf), (ja, jb, cn) in zip(fold, npk):
        assert (ia, ib) == (ja, jb)
        # bit-identical doubles, not approx: same IEEE op order
        assert cf == cn, (ia, ib, cf.hex(), cn.hex())


def test_kmeans_assignments_identical(spark, _restore_kernel):
    emb = load_table(spark, SF, "embeddings")

    def run():
        cells, cents, ids = sim.kmeans_cells(
            emb, "vec_id", "embedding", k=5, iters=2
        )
        return (
            sorted((r.vid, r.cell) for r in cells.collect()),
            cents,
            ids,
        )

    fa, ca, ia = _with_kernel("fold", run)
    fb, cb, ib = _with_kernel("numpy", run)
    assert fa == fb
    assert ia == ib
    assert ca == cb  # centroids bit-identical (fed by identical groups)


def test_ivf_pairs_and_probes_identical(spark, _restore_kernel):
    emb = load_table(spark, SF, "embeddings")

    def run():
        out = sim.ivf_dedup_pairs(
            emb, "vec_id", "embedding", threshold=0.95, k=5, n_probes=2
        )
        return sorted(
            (r.a_id, r.b_id, r.cosine) for r in out.collect()
        )

    assert _with_kernel("fold", run) == _with_kernel("numpy", run)


def test_null_and_ragged_vectors_null_out_not_nan(spark, _restore_kernel):
    """Fold semantics for bad vectors, preserved by the numpy kernel: a
    null vector or a length-mismatched pair yields NULL cosine (never
    NaN — NaN sorts FIRST under a descending top-k and would poison
    every result), and equal-but-nonstandard lengths still compute."""
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

    def run():
        return {
            r.id: r.c
            for r in df.select(
                "id", sim.cosine_cols(F.col("a"), F.col("b")).alias("c")
            ).collect()
        }

    fold = _with_kernel("fold", run)
    npk = _with_kernel("numpy", run)
    assert fold == npk
    assert npk[2] is None and npk[3] is None
    assert npk[1] == pytest.approx(1.0)
    assert npk[4] == pytest.approx(1.0)


def test_null_element_nulls_out_like_fold(spark, _restore_kernel):
    """A null ELEMENT in either vector yields NULL under both kernels
    (Arrow hands it to numpy as NaN; the kernel must not return that
    NaN), while clean rows in the same batch still compute."""
    from pyspark.sql import functions as F

    rows = [
        (1, [1.0, None, 0.0], [1.0, 0.0, 0.0]),   # null element, left
        (2, [1.0, 0.0, 0.0], [0.5, 0.5, None]),   # null element, right
        (3, [1.0, 2.0, 0.0], [2.0, 4.0, 0.0]),    # clean, same length
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )

    def run():
        return {
            r.id: r.c
            for r in df.select(
                "id", sim.cosine_cols(F.col("a"), F.col("b")).alias("c")
            ).collect()
        }

    fold = _with_kernel("fold", run)
    npk = _with_kernel("numpy", run)
    assert fold == npk
    assert npk[1] is None and npk[2] is None
    assert npk[3] == pytest.approx(1.0)


def test_topk_never_ranks_null_vector_first(spark, _restore_kernel):
    """The regression the NaN bug would cause: a corpus row with a null
    embedding must sort LAST (null), not FIRST (NaN), under either
    kernel — and both kernels return identical top-k rows."""
    from pyspark.sql import functions as F  # noqa: F401

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, None),
            (4, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )

    def run():
        out = sim.brute_force_topk(queries, corpus, "vec_id", "embedding", k=4)
        return [(r.rank, r.cand_id, r.cosine) for r in out.orderBy("rank").collect()]

    fold = _with_kernel("fold", run)
    npk = _with_kernel("numpy", run)
    assert fold == npk
    assert npk[0][1] == 1  # the exact match ranks first, not the null row
    assert npk[-1][1] == 3 and npk[-1][2] is None  # null vec ranks last


def test_assign_and_probe_null_out_invalid_vectors(spark, _restore_kernel):
    """_assign/_probe numpy twins: null or wrong-dimension vectors get
    a NULL cell / NULL probe list (the fold's zip_with nulls every
    distance for them), valid vectors assign identically."""
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
